package graft.metrics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.CoreFunctions._

/** PromQL subset → DataFrame compiler.
  *
  * The reference proxies PromQL to ClickHouse's prometheusQueryRange table
  * function (packages/api/src/routers/api/prometheus.ts:413,534); here the
  * same query shapes compile onto the engine's own metric pipelines.
  *
  * Supported grammar (the shapes the reference's dashboards emit), with
  * Prometheus precedence (low → high): or; and/unless; comparisons; +/-;
  * * / % atan2; ^ (right-assoc); primary:
  *   expr     := andU ('or' andU)*
  *   andU     := cmp (('and' | 'unless') cmp)*
  *   cmp      := sum (('>' '<' '>=' '<=' '==' '!=') ['bool'] [match] sum)*
  *   sum      := mul (('+' | '-') [match] mul)*
  *   mul      := primary (('*' | '/') [match] primary)*
  *   primary  := aggr | func | mathfn | selector | number | '(' expr ')'
  *   aggr     := (sum|avg|min|max|count|group|stddev|stdvar)
  *                 [by (l1, l2…) | without (l1…)] ( expr )
  *            | quantile [by (…) | without (…)] ( φ, expr )
  *            | (topk|bottomk) [by (l1…)] ( k, expr )
  *   mathfn   := (abs|ceil|floor|round|exp|ln|log2|log10|sqrt|sgn
  *               |sin|cos|tan|asin|acos|atan|sinh|cosh|tanh|asinh|acosh
  *               |atanh|deg|rad|timestamp)( expr )   — also pi() scalar
  *   func     := rate( selector [dur] [offset] )
  *            | increase( selector [dur] [offset] )
  *            | delta( selector [dur] [offset] )   — extrapolated gauge delta
  *            | irate | idelta ( selector [dur] )  — last-pair instant rate
  *            | resets | changes ( selector [dur] ) — in-window pair counts
  *            | deriv( selector [dur] )            — least-squares slope
  *            | predict_linear( selector [dur], t ) — regression forecast
  *            | present_over_time( selector [dur] )
  *            | holt_winters( selector [dur], sf, tf ) — double exp smooth
  *            | round( expr [, to_nearest] )
  *            | scalar( expr ) — 1-series vector → per-step scalar
  *            | vector( n )    — constant series on the frame's spine
  *            | time()         — evaluation time as a per-step scalar
  *            | (minute|hour|day_of_week|day_of_month|day_of_year
  *               |days_in_month|month|year)( [expr] )  — UTC components
  *               of the value as epoch seconds; defaults to time()
  *            | count_values( "label", expr )       — series-per-value count
  *            | topk( k, expr ) | bottomk( k, expr )
  *            | histogram_quantile( φ, selector | sum by (…) (selector) )
  *            | histogram_(count|sum|avg|stddev|stdvar)( selector
  *                | sum by (…) (sel) )
  *            | histogram_fraction( lo, hi, selector | sum by (…) (sel) )
  *            | (avg|min|max|sum|count|last|stddev|stdvar|mad)_over_time(
  *                selector [dur] )
  *            | (…)_over_time( expr [range ':' [substep]] )   — subquery
  *            | quantile_over_time( φ, selector [dur] | expr [r:s] )
  *            | label_replace( expr, "dst", "repl", "src", "regex" )
  *            | label_join( expr, "dst", "sep", "src"… )
  *            | clamp( expr, lo, hi ) | clamp_min( expr, lo )
  *            | clamp_max( expr, hi ) | absent( selector )
  *            | absent_over_time( selector [dur] )
  *   selector := metric_name [{ label op "value", … }] [offset] [at]
  *               op ∈ {=, !=, =~, !~}   (range forms: `sel[dur] [offset]
  *               [at]` — `at` also follows subquery `[r:s]` brackets)
  *   binop    := expr op [on (l1…) | ignoring (l1…)]
  *               [group_left [(l1…)] | group_right [(l1…)]] expr
  *   offset   := 'offset' <n>(s|m|h|d)
  *   at       := '@' <unix-seconds> | '@ start()' | '@ end()'
  *               (pins the subtree's evaluation to one instant and
  *               replicates it across the output steps; instants
  *               quantize to the step grid — documented deviation)
  *   dur      := <n>(s|m|h|d)
  * `sum without (l…)` groups by every remaining label: the surviving label
  * set (ServiceName + Attributes entries minus the dropped names) is
  * serialized canonically into a `labels` JSON column — the schema stays
  * static while the label universe stays data-driven.
  * `label_replace` rewrites the Attributes map before evaluation (fully
  * anchored regex, capture-group replacement, empty result drops the
  * label), re-keying series like Prometheus.
  * Vector matching: `on (l…)` joins on (bucket, listed labels) and keeps
  * only those labels; `ignoring (l…)` removes the listed labels from the
  * shared-label join key; `group_left (extra…)` is many-to-one — every
  * left row keeps its labels and may match the same right row, optionally
  * copying the listed extra labels from the right side.
  * histogram_quantile evaluates the selector against the exp-histogram
  * frame through the engine's 5-stage quantile pipeline. `*_over_time`
  * range aggregations SLIDE per evaluation step like real Prometheus: a
  * sample at time u contributes to every step-aligned evaluation time t
  * with t − range < u ≤ t (sample times quantized to whole seconds;
  * documented deviation for sub-second samples).
  * Binary ops join vector operands on (bucket, shared labels) — PromQL
  * one-to-one vector matching on the intersection of output labels;
  * scalar operands broadcast. Division follows PromQL's IEEE semantics:
  * x/0 → ±Inf (sign of x), 0/0 → NaN (Spark SQL division would yield
  * NULL — the compiler rewrites it).
  *
  * Bucket alignment: EVERY vector family labels its output with the step
  * bucket START. A bucket labeled L holds the evaluation whose data ends
  * at L + step: instant vectors and tumbling aggregations cover
  * [L, L + step), and sliding range functions (`*_over_time`, subqueries,
  * delta/irate/…, sliding rate) cover (L + step − range, L + step] —
  * their window-END evaluation at t is emitted at label t − step inside
  * `compile`, so mixing families in one binary op joins the SAME
  * evaluation instant, like Prometheus (which evaluates both operands at
  * one time). The only residue vs Prometheus is the half-open boundary of
  * the tumbling families ([L, L+step) vs (L, L+step]).
  *
  * Semantics notes: rate()/increase() have one semantics, Prometheus's
  * sliding extrapolatedRate (gauges aggregate last-value per bucket).
  * The reference's step-aligned tumbling counter rate stays available
  * to chart configs as [[MetricCompiler.counterRate]].
  */
object PromQl {

  // ------------------------------------------------------------------ AST
  sealed trait Expr
  final case class Selector(metric: String,
      matchers: Seq[(String, String, String)],
      offsetSeconds: Long = 0) extends Expr
  /** rate/increase over a sliding (t − range, t] window, Prometheus's
    * extrapolatedRate. */
  final case class Rate(sel: Selector, windowSeconds: Long,
      increase: Boolean) extends Expr
  final case class Aggr(op: String, by: Seq[String], inner: Expr,
      without: Boolean = false) extends Expr
  /** Vector-matching modifiers on a binary op: `on`/`ignoring` pick the
    * join labels; groupLeft allows many-to-one with `extra` labels copied
    * from the right side. */
  final case class VectorMatch(on: Option[Seq[String]] = None,
      ignoring: Seq[String] = Nil, groupLeft: Boolean = false,
      extra: Seq[String] = Nil,
      /** `group_right`: the mirror of group_left — the RIGHT side is
        * the many side and keeps its labels. Compiled by swapping the
        * operand frames and flipping the (non-commutative) op. */
      flipped: Boolean = false)
  /** Arithmetic binop: `+ - * / % ^ atan2` (atan2 is Prometheus's one
    * keyword-spelled arithmetic operator, same precedence tier as
    * `* / %`; `^` binds tighter and associates right). */
  final case class BinOp(op: String, l: Expr, r: Expr,
      matching: VectorMatch = VectorMatch()) extends Expr
  /** Comparison binop (`> < >= <= == !=`): filter semantics keep matching
    * left rows; with the `bool` modifier the result is 1/0 instead. */
  final case class CmpOp(op: String, l: Expr, r: Expr, bool: Boolean,
      matching: VectorMatch = VectorMatch()) extends Expr
  /** Set binops `and` / `or` / `unless` over the shared label columns. */
  final case class SetOp(op: String, l: Expr, r: Expr) extends Expr
  /** Unary math function over a vector (abs, ceil, floor, round, exp, ln,
    * log2, log10, sqrt, sgn); `arg` is round's optional to_nearest. */
  final case class MathFn(fn: String, inner: Expr,
      arg: Option[Double] = None) extends Expr
  /** label_replace(inner, dst, repl, src, regex): rewrite the Attributes
    * map before evaluating `inner`. */
  final case class LabelReplace(inner: Expr, dst: String, repl: String,
      src: String, regex: String) extends Expr
  final case class ScalarLit(v: Double) extends Expr
  /* (grammar: topk|bottomk|limitk|limit_ratio [by (l…)] ( k, expr )) */
  /** topk/bottomk: k series per step bucket ranked by value; with `by`,
    * k series per (bucket, by-labels) group like Prometheus's grouped
    * aggregator form. */
  final case class TopK(k: Int, inner: Expr, bottom: Boolean,
      by: Seq[String] = Nil) extends Expr
  /** limitk(k, expr) / limit_ratio(r, expr): sample whole SERIES (not
    * per-step values) deterministically by a label-set hash — limitk
    * keeps the k hash-smallest series per (bucket, by-group);
    * limit_ratio keeps series whose hash-uniform < r (negative r keeps
    * the exact complement, so r and r−1 partition the input). */
  final case class LimitK(k: Double, inner: Expr, ratio: Boolean,
      by: Seq[String] = Nil) extends Expr
  /** histogram_quantile(φ, …) over the exp-histogram frame; `by` comes
    * from the canonical inner `sum by (…) (selector)` shape. */
  final case class HistQuantile(phi: Double, sel: Selector,
      by: Seq[String]) extends Expr
  /** Classic Prometheus histogram_quantile over `le`-labelled cumulative
    * buckets: the inner expression groups by le (+ extra labels); the
    * quantile interpolates linearly within the bucket containing
    * rank = φ·total, like promql's bucketQuantile. */
  final case class ClassicHistQuantile(phi: Double, inner: Expr)
      extends Expr
  /** Native-histogram scalar accessors over the exp-histogram frame:
    * histogram_count / histogram_sum / histogram_avg — per-step observed
    * count / observation sum / their ratio, through the same
    * delta-with-reset machinery as the quantile pipeline. `by` comes
    * from the canonical `sum by (…) (selector)` inner shape, like
    * HistQuantile. */
  final case class HistAgg(kind: String, sel: Selector,
      by: Seq[String]) extends Expr
  /** histogram_fraction(lower, upper, …) over the exp-histogram frame:
    * estimated fraction of observations in (lower, upper] per step,
    * log-linear CDF interpolation — the inverse of HistQuantile. Bounds
    * accept ±Inf literals. */
  final case class HistFraction(lower: Double, upper: Double,
      sel: Selector, by: Seq[String]) extends Expr
  /** avg/min/max/sum/count/last/quantile `_over_time(sel[w])` per series
    * per sliding lookback window evaluated at each step; `level` is the φ
    * of quantile_over_time / predict_linear's horizon / holt_winters' sf,
    * `level2` holt_winters' tf. */
  final case class OverTime(op: String, sel: Selector,
      windowSeconds: Long, level: Option[Double] = None,
      level2: Option[Double] = None) extends Expr
  /** `*_over_time(expr[range:subStep])` — a PromQL subquery: evaluate the
    * inner expression as its own range query at `subStep` resolution, then
    * aggregate the inner evaluations falling in each outer step's
    * (t − range, t] lookback. `subStep = 0` inherits the outer step. */
  final case class OverTimeSub(op: String, inner: Expr,
      rangeSeconds: Long, subStep: Long,
      level: Option[Double] = None) extends Expr
  /** clamp(expr, lo, hi) / clamp_min / clamp_max. */
  final case class Clamp(inner: Expr, lo: Option[Double],
      hi: Option[Double]) extends Expr
  /** `@` modifier target: a fixed unix instant, or the frame's first /
    * last evaluation step (`@ start()` / `@ end()`). */
  sealed trait AtSpec
  final case class AtTime(epochSeconds: Long) extends AtSpec
  case object AtStart extends AtSpec
  case object AtEnd extends AtSpec
  /** `sel @ t` / `fn(sel[d] @ t)`: the subtree evaluates at ONE pinned
    * instant and that evaluation is replicated across every output step
    * (Prometheus's @ modifier). Instants quantize to the engine's step
    * grid — documented deviation. */
  final case class At(inner: Expr, spec: AtSpec) extends Expr
  /** absent(selector): 1 at each step bucket where the selector matches no
    * samples (evaluated over the contiguous step spine spanning the
    * frame's time extent). */
  final case class Absent(sel: Selector) extends Expr
  /** absent_over_time(selector[range]): 1 at each eval step whose sliding
    * (t − range, t] lookback holds no selector sample. */
  final case class AbsentOverTime(sel: Selector, rangeSeconds: Long)
      extends Expr
  /** label_join(inner, dst, sep, src…): dst = join(sep, src values). */
  final case class LabelJoin(inner: Expr, dst: String, sep: String,
      srcs: Seq[String]) extends Expr
  /** count_values("label", expr): per bucket/labels, count series per
    * distinct value, the value echoed as a new label. */
  final case class CountValues(label: String, inner: Expr) extends Expr
  /** scalar(expr): the inner vector's value per step when it has exactly
    * one series, NaN otherwise — compiles to a label-less (bucket, value)
    * frame, so binops join it on the bucket alone (scalar broadcast). */
  final case class ScalarOf(inner: Expr) extends Expr
  /** vector(n): a constant label-less series on the frame's contiguous
    * bucket spine — the `x or vector(0)` fallback idiom. */
  final case class VectorOf(v: Double) extends Expr
  /** time(): the evaluation instant (bucket start + step, epoch seconds)
    * as a label-less per-step scalar on the frame's spine. */
  case object TimeFn extends Expr

  final class PromQlParseException(msg: String) extends Exception(msg)

  // --------------------------------------------------------------- parser
  def parse(input: String): Expr = new P(input.trim).parseExpr(top = true)

  private final class P(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    private def fail(m: String) =
      throw new PromQlParseException(s"$m at $i in '$s'")

    def parseExpr(top: Boolean): Expr = {
      val e = parseOr()
      ws()
      if (top && i < s.length) fail(s"trailing input '${s.substring(i)}'")
      e
    }

    /** Consume keyword `w` at the cursor when it is a whole word. */
    private def kw(w: String): Boolean = {
      ws()
      if (s.startsWith(w, i) && !isIdentChar(i + w.length)) {
        i += w.length; true
      } else false
    }

    // Prometheus precedence (low → high): or; and/unless; comparisons;
    // +/-; */; primary
    private def parseOr(): Expr = {
      var l = parseAndUnless()
      ws()
      while (kw("or")) { l = SetOp("or", l, parseAndUnless()); ws() }
      l
    }

    private def parseAndUnless(): Expr = {
      var l = parseComparison()
      ws()
      var done = false
      while (!done) {
        if (kw("and")) l = SetOp("and", l, parseComparison())
        else if (kw("unless")) l = SetOp("unless", l, parseComparison())
        else done = true
        ws()
      }
      l
    }

    private def parseComparison(): Expr = {
      var l = parseAddSub()
      ws()
      var found = true
      while (found && i < s.length) {
        val op = Seq(">=", "<=", "==", "!=", ">", "<")
          .find(o => s.startsWith(o, i))
        op match {
          case Some(o) =>
            i += o.length
            val bool = kw("bool")
            val m = parseMatching()
            l = CmpOp(o, l, parseAddSub(), bool, m)
            ws()
          case None => found = false
        }
      }
      l
    }

    private def parseAddSub(): Expr = {
      var l = parseMulDiv()
      ws()
      while (i < s.length && (s(i) == '+' || s(i) == '-')) {
        val op = s(i).toString; i += 1
        val m = parseMatching()
        l = BinOp(op, l, parseMulDiv(), m)
        ws()
      }
      l
    }

    private def parseMulDiv(): Expr = {
      var l = parsePow()
      ws()
      var done = false
      while (!done && i < s.length) {
        if (s(i) == '*' || s(i) == '/' || s(i) == '%') {
          val op = s(i).toString; i += 1
          val m = parseMatching()
          l = BinOp(op, l, parsePow(), m)
          ws()
        } else if (kw("atan2")) {
          // Prometheus's keyword arithmetic binop, same tier as * / %
          val m = parseMatching()
          l = BinOp("atan2", l, parsePow(), m)
          ws()
        } else done = true
      }
      l
    }

    /** `^` binds tighter than `* / % atan2` and associates RIGHT
      * (2^3^2 = 2^9), matching Prometheus's operator table. */
    private def parsePow(): Expr = {
      val l = parsePrimary()
      ws()
      if (i < s.length && s(i) == '^') {
        i += 1
        val m = parseMatching()
        BinOp("^", l, parsePow(), m)
      } else l
    }

    /** `on (…)` / `ignoring (…)` [+ `group_left [(…)]`] after a binary
      * operator; the empty VectorMatch when absent. */
    private def parseMatching(): VectorMatch = {
      ws()
      var m = VectorMatch()
      if (s.startsWith("on", i) && !isIdentChar(i + 2)) {
        i += 2; ws()
        m = m.copy(on = Some(readParenIdents()))
      } else if (s.startsWith("ignoring", i) && !isIdentChar(i + 8)) {
        i += 8; ws()
        m = m.copy(ignoring = readParenIdents())
      }
      ws()
      if (s.startsWith("group_right", i) && !isIdentChar(i + 11)) {
        i += 11; ws()
        val extra =
          if (i < s.length && s(i) == '(') readParenIdents() else Nil
        // group_right = group_left with the sides mirrored; the
        // compiler swaps the frames and flips the op (BinOp case)
        m = m.copy(groupLeft = true, extra = extra, flipped = true)
      } else if (s.startsWith("group_left", i) && !isIdentChar(i + 10)) {
        i += 10; ws()
        val extra =
          if (i < s.length && s(i) == '(') readParenIdents() else Nil
        m = m.copy(groupLeft = true, extra = extra)
      }
      m
    }

    private def isIdentChar(at: Int): Boolean =
      at < s.length && (s(at).isLetterOrDigit || s(at) == '_')

    private def parsePrimary(): Expr = {
      ws()
      if (i < s.length && s(i) == '(') {
        i += 1
        val e = parseOr()
        expect(')')
        return e
      }
      if (i < s.length && (s(i).isDigit || s(i) == '.')) {
        val n = readWhile(c => c.isDigit || c == '.')
        return ScalarLit(n.toDouble)
      }
      val ident = readIdent()
      ws()
      // a known function/aggregation name only parses as a call when a
      // call actually follows — '(' (or by/without for aggregations);
      // otherwise the identifier is a metric named like a function
      val nextIsParen = i < s.length && s(i) == '('
      val nextIsByWithout =
        (s.startsWith("by", i) && !isIdentChar(i + 2)) ||
          (s.startsWith("without", i) && !isIdentChar(i + 7))
      val callish = nextIsParen || nextIsByWithout
      val e: Expr = ident match {
        case "sum" | "avg" | "min" | "max" | "count" | "group" | "stddev"
            | "stdvar" if callish =>
          var by: Seq[String] = Nil
          var without = false
          if (s.startsWith("by", i) && !isIdentChar(i + 2)) {
            i += 2; ws(); by = readParenIdents()
          } else if (s.startsWith("without", i) && !isIdentChar(i + 7)) {
            i += 7; ws(); by = readParenIdents(); without = true
          }
          ws(); expect('(')
          val inner = parseOr()
          ws(); expect(')')
          Aggr(ident, by, inner, without)
        case "quantile" if callish =>
          // quantile [by (…)|without (…)] ( φ, expr ) — cross-series
          // percentile per bucket; the level rides inside the op string
          // ("quantile:φ") so the Aggr shape stays unchanged
          var by: Seq[String] = Nil
          var without = false
          if (s.startsWith("by", i) && !isIdentChar(i + 2)) {
            i += 2; ws(); by = readParenIdents()
          } else if (s.startsWith("without", i) && !isIdentChar(i + 7)) {
            i += 7; ws(); by = readParenIdents(); without = true
          }
          ws(); expect('(')
          ws()
          val phi = readWhile(c => c.isDigit || c == '.')
          if (phi.isEmpty) fail("expected quantile level")
          ws(); expect(',')
          val inner = parseOr()
          ws(); expect(')')
          Aggr(s"quantile:$phi", by, inner, without)
        case "delta" | "irate" | "idelta" | "resets" | "changes"
            | "deriv" if nextIsParen =>
          // delta: gauge delta over the sliding window with Prometheus's
          // capped boundary extrapolation. irate/idelta: instant
          // rate/difference from the window's last two samples.
          // resets/changes: count of in-window consecutive pairs that
          // reset (drop) / differ. deriv: per-window least-squares slope.
          expect('(')
          val sel0 = parseSelector(readIdent())
          if (sel0.offsetSeconds != 0)
            fail("offset must follow the range selector ([dur] offset d)")
          val w = readDuration()
          val off = readOffsetOpt()
          val at = readAtOpt()
          ws(); expect(')')
          wrapAt(OverTime(ident, sel0.copy(offsetSeconds = off), w), at)
        case "holt_winters" | "double_exponential_smoothing"
            if nextIsParen =>
          // double exponential smoothing over each sliding window
          // (promql funcDoubleExponentialSmoothing; holt_winters is the
          // v2 name) — sf/tf ride in level/level2
          expect('(')
          val sel0 = parseSelector(readIdent())
          if (sel0.offsetSeconds != 0)
            fail("offset must follow the range selector ([dur] offset d)")
          val w = readDuration()
          val off = readOffsetOpt()
          val at = readAtOpt()
          ws(); expect(','); ws()
          val sf = readNumber()
          ws(); expect(','); ws()
          val tf = readNumber()
          ws(); expect(')')
          if (sf <= 0 || sf >= 1 || tf <= 0 || tf >= 1)
            fail("holt_winters smoothing factors must be in (0, 1)")
          wrapAt(OverTime("holt", sel0.copy(offsetSeconds = off), w,
            Some(sf), Some(tf)), at)
        case "predict_linear" if nextIsParen =>
          // predict_linear(sel[d], t): the window's least-squares value
          // extrapolated t seconds past the evaluation time; the forecast
          // horizon rides in `level` like quantile_over_time's φ
          expect('(')
          val sel0 = parseSelector(readIdent())
          if (sel0.offsetSeconds != 0)
            fail("offset must follow the range selector ([dur] offset d)")
          val w = readDuration()
          val off = readOffsetOpt()
          val at = readAtOpt()
          ws(); expect(',')
          ws()
          val horizon = readNumber()
          ws(); expect(')')
          wrapAt(OverTime("predict_linear", sel0.copy(offsetSeconds = off),
            w, Some(horizon)), at)
        case "rate" | "increase" if nextIsParen =>
          expect('(')
          val sel0 = parseSelector(readIdent())
          // Prometheus puts `offset` AFTER the range brackets; an offset
          // consumed by parseSelector means `m offset 1h[5m]` — reject it
          // rather than silently dropping the modifier
          if (sel0.offsetSeconds != 0)
            fail("offset must follow the range selector ([dur] offset d)")
          val w = readDuration()
          val off = readOffsetOpt()
          val at = readAtOpt()
          ws(); expect(')')
          wrapAt(Rate(sel0.copy(offsetSeconds = off), w,
            increase = ident == "increase"), at)
        case "topk" | "bottomk" if callish =>
          // optional `by (l…)` prefix: k per (bucket, labels) group
          var by: Seq[String] = Nil
          if (s.startsWith("by", i) && !isIdentChar(i + 2)) {
            i += 2; ws(); by = readParenIdents()
          }
          ws(); expect('(')
          ws()
          val k = readWhile(_.isDigit)
          if (k.isEmpty) fail("expected k")
          ws(); expect(',')
          val inner = parseOr()
          ws(); expect(')')
          TopK(k.toInt, inner, bottom = ident == "bottomk", by)
        case "limitk" | "limit_ratio" if callish =>
          // optional `by (l…)` prefix like topk
          var by: Seq[String] = Nil
          if (s.startsWith("by", i) && !isIdentChar(i + 2)) {
            i += 2; ws(); by = readParenIdents()
          }
          ws(); expect('(')
          ws()
          val k = readNumber()
          ws(); expect(',')
          val inner = parseOr()
          ws(); expect(')')
          if (ident == "limitk" && (k < 1 || k != k.floor))
            fail("limitk needs a positive integer k")
          if (ident == "limit_ratio" && (k < -1 || k > 1))
            fail("limit_ratio needs r in [-1, 1]")
          LimitK(k, inner, ratio = ident == "limit_ratio", by)
        case "histogram_quantile" if nextIsParen =>
          expect('(')
          ws()
          val phi = readWhile(c => c.isDigit || c == '.')
          if (phi.isEmpty) fail("expected quantile level")
          ws(); expect(',')
          val inner = parseOr()
          ws(); expect(')')
          inner match {
            // le in the grouping ⇒ classic cumulative-bucket histogram
            case a @ Aggr("sum", by, _, _) if by.contains("le") =>
              ClassicHistQuantile(phi.toDouble, a)
            case sel: Selector => HistQuantile(phi.toDouble, sel, Nil)
            case Aggr("sum", by, sel: Selector, false) =>
              HistQuantile(phi.toDouble, sel, by)
            case _ => fail("histogram_quantile expects a selector, " +
              "sum by (…) (selector), or sum by (le, …) (expr)")
          }
        case "histogram_fraction" if nextIsParen =>
          expect('(')
          val lower = readBound()
          ws(); expect(',')
          val upper = readBound()
          ws(); expect(',')
          val inner = parseOr()
          ws(); expect(')')
          inner match {
            case sel: Selector => HistFraction(lower, upper, sel, Nil)
            case Aggr("sum", by, sel: Selector, false) =>
              HistFraction(lower, upper, sel, by)
            case _ => fail("histogram_fraction expects a selector or " +
              "sum by (…) (selector)")
          }
        case "histogram_count" | "histogram_sum" | "histogram_avg" |
            "histogram_stddev" | "histogram_stdvar" if nextIsParen =>
          // native-histogram scalar accessors; same canonical inner
          // shapes as histogram_quantile
          expect('(')
          val inner = parseOr()
          ws(); expect(')')
          val kind = ident.stripPrefix("histogram_")
          inner match {
            case sel: Selector => HistAgg(kind, sel, Nil)
            case Aggr("sum", by, sel: Selector, false) =>
              HistAgg(kind, sel, by)
            case _ => fail(s"$ident expects a selector or " +
              "sum by (…) (selector)")
          }
        case "sort" | "sort_desc" if nextIsParen =>
          // presentation ordering of the result frame (value asc/desc);
          // row order is advisory in a DataFrame result but harmless
          expect('(')
          val inner = parseOr()
          ws(); expect(')')
          MathFn(ident, inner)
        case ot if nextIsParen && ot.endsWith("_over_time") &&
            Set("avg", "min", "max", "sum", "count", "last", "present",
              "stddev", "stdvar", "mad").contains(ot.dropRight(10)) =>
          expect('(')
          parseOverTimeBody(ot.dropRight(10), level = None)
        case "label_replace" if nextIsParen =>
          expect('(')
          val inner = parseOr()
          ws(); expect(','); ws()
          val dst = readString()
          ws(); expect(','); ws()
          val repl = readString()
          ws(); expect(','); ws()
          val src = readString()
          ws(); expect(','); ws()
          val regex = readString()
          ws(); expect(')')
          LabelReplace(inner, dst, repl, src, regex)
        case "quantile_over_time" if nextIsParen =>
          expect('(')
          ws()
          val phi = readWhile(c => c.isDigit || c == '.')
          if (phi.isEmpty) fail("expected quantile level")
          ws(); expect(',')
          parseOverTimeBody("quantile", level = Some(phi.toDouble))
        case "clamp" | "clamp_min" | "clamp_max" if nextIsParen =>
          expect('(')
          val inner = parseOr()
          ws(); expect(','); ws()
          val a = readNumber()
          val e = ident match {
            case "clamp_min" => Clamp(inner, Some(a), None)
            case "clamp_max" => Clamp(inner, None, Some(a))
            case _ =>
              ws(); expect(','); ws()
              val b = readNumber()
              Clamp(inner, Some(a), Some(b))
          }
          ws(); expect(')')
          e
        case "absent" if nextIsParen =>
          expect('(')
          ws()
          val sel = parseSelector(readIdent())
          ws(); expect(')')
          Absent(sel)
        case "absent_over_time" if nextIsParen =>
          expect('(')
          ws()
          val sel0 = parseSelector(readIdent())
          if (sel0.offsetSeconds != 0)
            fail("offset must follow the range selector ([dur] offset d)")
          val w = readDuration()
          val off = readOffsetOpt()
          val at = readAtOpt()
          ws(); expect(')')
          wrapAt(AbsentOverTime(sel0.copy(offsetSeconds = off), w), at)
        case "label_join" if nextIsParen =>
          expect('(')
          val inner = parseOr()
          ws(); expect(','); ws()
          val dst = readString()
          ws(); expect(','); ws()
          val sep = readString()
          val srcs = Seq.newBuilder[String]
          ws()
          while (i < s.length && s(i) == ',') {
            i += 1; ws()
            srcs += readString()
            ws()
          }
          expect(')')
          LabelJoin(inner, dst, sep, srcs.result())
        case "scalar" if nextIsParen =>
          expect('(')
          val inner = parseOr()
          ws(); expect(')')
          ScalarOf(inner)
        case "vector" if nextIsParen =>
          expect('(')
          ws()
          val n = readNumber()
          ws(); expect(')')
          VectorOf(n)
        case "time" if nextIsParen =>
          expect('(')
          ws(); expect(')')
          TimeFn
        case "count_values" if nextIsParen =>
          expect('(')
          ws()
          val label = readString()
          ws(); expect(',')
          val inner = parseOr()
          ws(); expect(')')
          CountValues(label, inner)
        case "pi" if nextIsParen =>
          expect('('); ws(); expect(')')
          ScalarLit(math.Pi)
        case fn if nextIsParen && Set("abs", "ceil", "floor", "round",
            "exp", "ln", "log2", "log10", "sqrt", "sgn", "timestamp",
            "sin", "cos", "tan", "asin", "acos", "atan",
            "sinh", "cosh", "tanh", "asinh", "acosh", "atanh",
            "deg", "rad").contains(fn) =>
          expect('(')
          val inner = parseOr()
          ws()
          // round takes an optional to_nearest argument
          val arg =
            if (fn == "round" && i < s.length && s(i) == ',') {
              i += 1; ws(); Some(readNumber())
            } else None
          ws(); expect(')')
          MathFn(fn, inner, arg)
        case fn if nextIsParen && Set("minute", "hour", "day_of_week",
            "day_of_month", "day_of_year", "days_in_month", "month",
            "year").contains(fn) =>
          // UTC calendar component of the value as epoch seconds; the
          // argument defaults to time() like Prometheus
          expect('(')
          ws()
          val inner =
            if (i < s.length && s(i) == ')') TimeFn else parseOr()
          ws(); expect(')')
          MathFn(fn, inner)
        case name if name.nonEmpty =>
          wrapAt(parseSelector(name), readAtOpt())
        case _ => fail("expected expression")
      }
      e
    }

    /** Body of a `*_over_time(…)` call, after the '(' (and φ, for
      * quantile): either the classic `selector[dur] [offset d]` range
      * form, or a subquery `expr[range:substep]` (empty substep inherits
      * the outer step). */
    private def parseOverTimeBody(op: String, level: Option[Double])
        : Expr = {
      val inner = parseOr()
      ws(); expect('[')
      val n = readWhile(_.isDigit)
      if (n.isEmpty) fail("expected duration")
      val range = n.toLong * durationMult({ val u = s(i); i += 1; u })
      ws()
      if (i < s.length && s(i) == ':') {
        i += 1; ws()
        val m = readWhile(_.isDigit)
        val sub =
          if (m.isEmpty) 0L
          else m.toLong * durationMult({ val u = s(i); i += 1; u })
        expect(']')
        val at = readAtOpt()
        ws(); expect(')')
        wrapAt(OverTimeSub(op, inner, range, sub, level), at)
      } else {
        expect(']')
        val off = readOffsetOpt()
        val at = readAtOpt()
        ws(); expect(')')
        inner match {
          case sel: Selector =>
            if (sel.offsetSeconds != 0)
              fail("offset must follow the range selector ([dur] offset d)")
            wrapAt(OverTime(op, sel.copy(offsetSeconds = off), range,
              level), at)
          case _ => fail("a plain [dur] range needs a selector; use " +
            "[range:step] to aggregate over an expression")
        }
      }
    }

    private def readNumber(): Double = {
      val sign = if (i < s.length && s(i) == '-') { i += 1; "-" } else ""
      val n = readWhile(c => c.isDigit || c == '.')
      if (n.isEmpty) fail("expected number")
      (sign + n).toDouble
    }

    private def parseSelector(name: String): Selector = {
      ws()
      val matchers =
        if (i < s.length && s(i) == '{') {
          i += 1
          val ms = Seq.newBuilder[(String, String, String)]
          ws()
          while (i < s.length && s(i) != '}') {
            val label = readIdent()
            ws()
            val op =
              if (s.startsWith("!=", i)) { i += 2; "!=" }
              else if (s.startsWith("=~", i)) { i += 2; "=~" }
              else if (s.startsWith("!~", i)) { i += 2; "!~" }
              else if (s.startsWith("=", i)) { i += 1; "=" }
              else fail("expected matcher operator")
            ws()
            ms += ((label, op, readString()))
            ws()
            if (i < s.length && s(i) == ',') { i += 1; ws() }
          }
          expect('}')
          ms.result()
        } else Nil
      Selector(name, matchers, readOffsetOpt())
    }

    /** `offset <dur>` modifier (bare duration, no brackets); 0 if absent. */
    private def readOffsetOpt(): Long = {
      ws()
      if (s.startsWith("offset", i) &&
          (i + 6 >= s.length || !s(i + 6).isLetterOrDigit)) {
        i += 6; ws()
        val n = readWhile(_.isDigit)
        if (n.isEmpty) fail("expected offset duration")
        val unit = s(i); i += 1
        n.toLong * durationMult(unit)
      } else 0L
    }

    /** Optional `@ <unix-seconds>` / `@ start()` / `@ end()` after a
      * selector or range form. */
    private def readAtOpt(): Option[AtSpec] = {
      ws()
      if (i < s.length && s(i) == '@') {
        i += 1; ws()
        if (s.startsWith("start()", i)) { i += 7; Some(AtStart) }
        else if (s.startsWith("end()", i)) { i += 5; Some(AtEnd) }
        else Some(AtTime(readNumber().toLong))
      } else None
    }

    private def wrapAt(e: Expr, at: Option[AtSpec]): Expr =
      at.fold(e)(At(e, _))

    private def durationMult(unit: Char): Long = unit match {
      case 's' => 1L; case 'm' => 60L; case 'h' => 3600L
      case 'd' => 86400L
      case u => fail(s"bad duration unit '$u'")
    }

    private def readDuration(): Long = {
      ws(); expect('[')
      val n = readWhile(_.isDigit)
      if (n.isEmpty) fail("expected duration")
      val unit = s(i); i += 1
      expect(']')
      n.toLong * durationMult(unit)
    }

    private def readParenIdents(): Seq[String] = {
      expect('(')
      val out = Seq.newBuilder[String]
      ws()
      while (i < s.length && s(i) != ')') {
        out += readIdent()
        ws()
        if (i < s.length && s(i) == ',') { i += 1; ws() }
      }
      expect(')')
      out.result()
    }

    private def readIdent(): String =
      readWhile(c => c.isLetterOrDigit || c == '_' || c == ':')
    /** Signed scalar bound: a plain number or ±Inf (histogram_fraction). */
    private def readBound(): Double = {
      ws()
      val sign = if (i < s.length && (s(i) == '-' || s(i) == '+')) {
        val neg = s(i) == '-'; i += 1; if (neg) -1.0 else 1.0
      } else 1.0
      if (i < s.length && s(i).isLetter) {
        val w = readWhile(_.isLetter)
        if (w.equalsIgnoreCase("inf")) sign * Double.PositiveInfinity
        else fail(s"expected a number or Inf, got '$w'")
      } else {
        val n = readWhile(c => c.isDigit || c == '.' || c == 'e' ||
          c == 'E')
        if (n.isEmpty) fail("expected a number")
        sign * n.toDouble
      }
    }
    private def readWhile(p: Char => Boolean): String = {
      val start = i
      while (i < s.length && p(s(i))) i += 1
      s.substring(start, i)
    }
    private def readString(): String = {
      if (i >= s.length || s(i) != '"') fail("expected string")
      i += 1
      val sb = new StringBuilder
      while (i < s.length && s(i) != '"') {
        if (s(i) == '\\' && i + 1 < s.length) { sb += s(i + 1); i += 2 }
        else { sb += s(i); i += 1 }
      }
      if (i >= s.length) fail("unclosed string")
      i += 1
      sb.toString
    }
    private def expect(c: Char): Unit = {
      ws()
      if (i >= s.length || s(i) != c) fail(s"expected '$c'")
      i += 1
    }
  }

  // ------------------------------------------------------------- compiler

  /** Evaluate over an OTel metric frame (gauge or sum shape, FIXTURES §3)
    * as a range query at `stepSeconds`. Output: __time_bucket, grouping
    * labels…, value.
    *
    * rate()/increase() follow Prometheus exactly: a sliding
    * (t − range, t] lookback at every step with counter-reset
    * monotonicization and boundary extrapolation (extrapolatedRate). */
  def eval(df: DataFrame, query: String, stepSeconds: Long): DataFrame =
    compile(df, parse(query), stepSeconds)

  /** Parse a bare instant selector (`metric{label=~"..."}`) and filter
    * `df` to the rows it matches — the introspection face of
    * [[applySelector]]: label discovery ([[graft.meta.Metadata
    * .timeSeriesTags]], the reference's `timeSeriesTags` autocomplete,
    * packages/api/src/routers/api/prometheus.ts:792-793) wants the
    * selector's raw row set, not a series evaluation. Rejects anything
    * that isn't a plain selector (a function call or binary expression
    * has no single row set to introspect). */
  def selectorFrame(df: DataFrame, selector: String): DataFrame =
    parse(selector) match {
      case s: Selector => applySelector(df, s)
      case _ => throw new IllegalArgumentException(
        s"expected a bare selector like metric{label=\"v\"}, " +
          s"got: $selector")
    }

  /** Driver-side constant fold of a scalar-only expression (no
    * selector anywhere) at evaluation time `time` (epoch seconds) —
    * the `resultType:"scalar"` instant answer a Prometheus server
    * gives for `1+1`. A stock Grafana datasource health-checks with
    * literally `query=1+1` on save, so the serving face needs this
    * path even though scalar-only expressions are not chartable
    * queries (the vector compiler still rejects them). None when the
    * expression touches a vector; a scalar-scalar comparison without
    * the `bool` modifier is the same parse error native PromQL
    * raises. */
  def constScalar(query: String, time: Long): Option[Double] =
    constScalarAst(parse(query), time)

  /** [[constScalar]] over an already-parsed AST — the serving layer
    * folds a range of evaluation times without re-parsing per point. */
  def constScalarAst(ast: Expr, time: Long): Option[Double] = {
    def ev(e: Expr): Option[Double] = e match {
      case ScalarLit(v) => Some(v)
      case TimeFn => Some(time.toDouble)
      case BinOp(op, l, r, _) =>
        for (a <- ev(l); b <- ev(r)) yield op match {
          case "+" => a + b
          case "-" => a - b
          case "*" => a * b
          // IEEE doubles already give promDiv's 0-denominator shape
          // (x/0 = ±Inf, 0/0 = NaN)
          case "/" => a / b
          // JVM double % matches Go math.Mod (sign of the dividend,
          // NaN on a zero divisor) — Prometheus's % semantics
          case "%" => a % b
          case "^" => math.pow(a, b)
          case "atan2" => math.atan2(a, b)
        }
      case CmpOp(op, l, r, bool, _) =>
        for (a <- ev(l); b <- ev(r)) yield {
          if (!bool) throw new PromQlParseException(
            "comparisons between scalars must use BOOL modifier")
          val hit = op match {
            case "==" => a == b
            case "!=" => a != b
            case ">" => a > b
            case "<" => a < b
            case ">=" => a >= b
            case "<=" => a <= b
          }
          if (hit) 1.0 else 0.0
        }
      case MathFn(fn, inner, arg) => ev(inner).flatMap { v =>
        lazy val utc = java.time.Instant.ofEpochSecond(v.toLong)
          .atZone(java.time.ZoneOffset.UTC)
        fn match {
          case "abs" => Some(math.abs(v))
          case "ceil" => Some(math.ceil(v))
          case "floor" => Some(math.floor(v))
          case "round" =>
            val to = arg.getOrElse(1.0)
            Some(math.floor(v / to + 0.5) * to)
          case "exp" => Some(math.exp(v))
          case "ln" => Some(math.log(v))
          case "log2" => Some(math.log(v) / math.log(2.0))
          case "log10" => Some(math.log10(v))
          case "sqrt" => Some(math.sqrt(v))
          case "sgn" => Some(math.signum(v))
          case "sin" => Some(math.sin(v))
          case "cos" => Some(math.cos(v))
          case "tan" => Some(math.tan(v))
          case "asin" => Some(math.asin(v))
          case "acos" => Some(math.acos(v))
          case "atan" => Some(math.atan(v))
          case "sinh" => Some(math.sinh(v))
          case "cosh" => Some(math.cosh(v))
          case "tanh" => Some(math.tanh(v))
          case "asinh" => Some(math.log(v + math.sqrt(v * v + 1)))
          case "acosh" => Some(math.log(v + math.sqrt(v * v - 1)))
          case "atanh" => Some(0.5 * math.log((1 + v) / (1 - v)))
          case "deg" => Some(math.toDegrees(v))
          case "rad" => Some(math.toRadians(v))
          case "minute" => Some(utc.getMinute.toDouble)
          case "hour" => Some(utc.getHour.toDouble)
          case "day_of_week" =>
            Some((utc.getDayOfWeek.getValue % 7).toDouble)
          case "day_of_month" => Some(utc.getDayOfMonth.toDouble)
          case "day_of_year" => Some(utc.getDayOfYear.toDouble)
          case "days_in_month" =>
            Some(utc.toLocalDate.lengthOfMonth.toDouble)
          case "month" => Some(utc.getMonthValue.toDouble)
          case "year" => Some(utc.getYear.toDouble)
          case _ => None
        }
      }
      case _ => None
    }
    ev(ast)
  }

  /** Largest lookback (range + offset, seconds) any node of the parsed
    * expression needs. A caller scoping the input frame to a query range
    * must extend the scan this far before the range start, or edge
    * windows silently aggregate truncated data (AlertRunner derives its
    * scan padding from this — no caller-supplied flag). */
  def maxLookback(query: String): Long = lookbackOf(parse(query))

  private def lookbackOf(e: Expr): Long = e match {
    case Selector(_, _, off) => off
    case Rate(sel, w, _) => sel.offsetSeconds + w
    case OverTime(_, sel, w, _, _) => sel.offsetSeconds + w
    case AbsentOverTime(sel, w) => sel.offsetSeconds + w
    // the inner expression evaluates at substep over its own lookback,
    // and the outer window reaches `range` further back
    case OverTimeSub(_, inner, range, _, _) => range + lookbackOf(inner)
    case Aggr(_, _, i, _) => lookbackOf(i)
    case BinOp(_, l, r, _) => math.max(lookbackOf(l), lookbackOf(r))
    case CmpOp(_, l, r, _, _) => math.max(lookbackOf(l), lookbackOf(r))
    case SetOp(_, l, r) => math.max(lookbackOf(l), lookbackOf(r))
    case MathFn(_, i, _) => lookbackOf(i)
    case LabelReplace(i, _, _, _, _) => lookbackOf(i)
    case LabelJoin(i, _, _, _) => lookbackOf(i)
    case TopK(_, i, _, _) => lookbackOf(i)
    case LimitK(_, i, _, _) => lookbackOf(i)
    case Clamp(i, _, _) => lookbackOf(i)
    case HistQuantile(_, sel, _) => sel.offsetSeconds
    case HistAgg(_, sel, _) => sel.offsetSeconds
    case HistFraction(_, _, sel, _) => sel.offsetSeconds
    case ClassicHistQuantile(_, i) => lookbackOf(i)
    case CountValues(_, i) => lookbackOf(i)
    case ScalarOf(i) => lookbackOf(i)
    case VectorOf(_) | TimeFn => 0L
    case Absent(sel) => sel.offsetSeconds
    case ScalarLit(_) => 0L
    // @ pins evaluation to an absolute instant the caller's scan range
    // may not cover — the inner lookback is the best static bound
    case At(i, _) => lookbackOf(i)
  }

  private def labelCol(label: String, df: DataFrame): Column =
    // well-known labels are physical columns; everything else resolves
    // into the Attributes map
    if (df.columns.contains(label)) col(label)
    else element_at(col("Attributes"), label)

  private def matcherPred(m: (String, String, String), df: DataFrame)
      : Column = {
    val (label, op, v) = m
    val c = labelCol(label, df)
    // PromQL regex matchers are fully anchored
    val anchored = s"^(?:$v)$$"
    op match {
      case "=" => c === v
      case "!=" => c.isNull || c =!= v
      case "=~" => c.rlike(anchored)
      case "!~" => c.isNull || !c.rlike(anchored)
    }
  }

  private def applySelector(df: DataFrame, sel: Selector): DataFrame = {
    // metricNameFilter widens OTel semantic-convention renames to both
    // spellings (IN (old, new)) so a mid-upgrade fleet keeps all series;
    // exact equality for every un-migrated name
    val base = df.filter(MetricCompiler.metricNameFilter(sel.metric))
    val matched =
      sel.matchers.foldLeft(base)((d, m) => d.filter(matcherPred(m, d)))
    // `offset d`: evaluate the series d seconds in the past — shifting the
    // data forward by d lands the historical points in the current buckets
    if (sel.offsetSeconds == 0) matched
    else matched.withColumn("TimeUnix",
      col("TimeUnix") + expr(s"INTERVAL ${sel.offsetSeconds} SECOND"))
  }

  private def compile(df: DataFrame, e: Expr, step: Long): DataFrame =
    e match {
      case sel: Selector =>
        // instant-vector semantics per series: last value per step bucket
        MetricCompiler.gauge(applySelector(df, sel), step, "last_value")
      case Rate(sel, range, increase) =>
        // bare rate sums across series per eval bucket
        slidingRate(df, sel, range, step, Nil, increase)
          .groupBy(col(TimeBucketAlias))
          .agg(sum(col("value")).as("value"))
      case Aggr(op, by, At(i2, spec), w) =>
        // @ commutes with per-bucket aggregation: hoist it above so the
        // label machinery (by/without fast paths) sees the raw inner shape
        compile(df, At(Aggr(op, by, i2, w), spec), step)
      case Aggr(op, by, lr: LabelReplace, w) =>
        // hoist label_replace out of the aggregation: rewrite the frame,
        // then aggregate the inner expression on it — keeps the selector /
        // rate / over-time fast paths (and `without`'s surviving-label
        // computation) working on the REWRITTEN label set
        compile(applyLabelReplace(df, lr), Aggr(op, by, lr.inner, w), step)
      case Aggr(op, by, lj: LabelJoin, w) =>
        // label_join hoists identically to label_replace
        compile(applyLabelJoin(df, lj), Aggr(op, by, lj.inner, w), step)
      case Aggr(op, drop, inner, true) =>
        // `without (l…)`: group by every surviving label. The surviving set
        // is serialized into one canonical `labels` JSON column (sorted
        // entries), added BEFORE recursion so the whole by-path machinery
        // (gauge / per-series rate / over-time) applies unchanged with
        // by = Seq("labels") — static schema, data-driven label universe.
        val df2 = df.withColumn("labels", survivingLabels(df, drop))
        compile(df2, Aggr(op, Seq("labels"), inner, without = false), step)
      case Aggr(op, by, inner, _) =>
        // aggregations over selectors/rates aggregate from the source
        // directly so grouping labels stay available; `by` labels resident
        // in the Attributes map are materialized first (withLabels is
        // idempotent for physical columns)
        inner match {
          case sel: Selector =>
            val src = withLabels(applySelector(df, sel), by)
            // per-series last_value, then the outer op across series
            MetricCompiler.gauge(src, step, op, by)
          case Rate(sel, range, increase) =>
            // rate per series, then the outer op across series —
            // avg/min/max/count need the per-series rates
            aggregate0(slidingRate(df, sel, range, step, by, increase),
              op, by)
          case ot: OverTime =>
            aggregate0(overTimePerSeries(df, ot, by, step), op, by)
          case _ => aggregate0(compile(df, inner, step), op, by)
        }
      case TopK(k, inner, bottom, by) =>
        import org.apache.spark.sql.expressions.Window
        val g = compile(df, inner, step)
        val labels = g.columns.toSeq
          .filter(c => c != TimeBucketAlias && c != "value")
        val order = (if (bottom) col("value").asc else col("value").desc) +:
          labels.map(col(_).asc)
        val w = Window
          .partitionBy((col(TimeBucketAlias) +: by.map(col)): _*)
          .orderBy(order: _*)
        g.withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= k)
          .drop("__rk")
      case LimitK(k, inner, ratio, by) =>
        import org.apache.spark.sql.expressions.Window
        val g = compile(df, inner, step)
        val labels = g.columns.toSeq
          .filter(c => c != TimeBucketAlias && c != "value")
        // one deterministic draw per SERIES (label set), not per step —
        // the same series survive at every bucket, like Prometheus; the
        // control-char separator keeps label concatenations collision-free
        val seriesKey = xxhash64(concat_ws("\u0001",
          labels.map(c => coalesce(col(c).cast("string"), lit(""))): _*))
        if (ratio) {
          // uniform in [0,1) from the top 53 hash bits; negative r keeps
          // the exact complement so r and r−1 partition the series set
          val u = (shiftrightunsigned(seriesKey, 11).cast("double") /
            lit(9007199254740992.0))
          g.filter(if (k >= 0) u < lit(k) else u >= lit(1 + k))
        } else {
          val w = Window
            .partitionBy((col(TimeBucketAlias) +: by.map(col)): _*)
            .orderBy(seriesKey.asc +: labels.map(col(_).asc): _*)
          g.withColumn("__rk", row_number().over(w))
            .filter(col("__rk") <= k.toInt)
            .drop("__rk")
        }
      case HistQuantile(phi, sel, by) =>
        // routes onto the engine's exp-histogram quantile pipeline — the
        // reference proxies histogram_quantile to its own histogram
        // machinery the same way (prometheus.ts:413-534)
        ExpHistograms.quantile(
          withLabels(applySelector(df, sel), by), phi, step, by)
      case HistFraction(lower, upper, sel, by) =>
        ExpHistograms.fraction(
          withLabels(applySelector(df, sel), by), lower, upper, step, by)
      case HistAgg(kind, sel, by) =>
        val src = withLabels(applySelector(df, sel), by)
        kind match {
          case "count" => ExpHistograms.count(src, step, by)
            .withColumn("value", col("count").cast("double"))
            .drop("count")
          case "sum" => ExpHistograms.sumOf(src, step, by)
            .withColumnRenamed("sum", "value")
          case "stddev" | "stdvar" =>
            ExpHistograms.spread(src, step, by,
              variance = kind == "stdvar")
          case _ => // avg = sum / count per (bucket, by-group)
            val keys = TimeBucketAlias +: by
            ExpHistograms.sumOf(src, step, by)
              .join(ExpHistograms.count(src, step, by), keys)
              .withColumn("value",
                promDiv(col("sum"), col("count").cast("double")))
              .drop("sum", "count")
        }
      case ClassicHistQuantile(phi, inner) =>
        // promql bucketQuantile over le-labelled cumulative buckets: sort
        // the per-group buckets by le, apply ensureMonotonic (running max
        // over the cumulative counts — float-rate wobble can make a
        // cumulative count dip below its predecessor), find the bucket
        // containing rank = φ·total, interpolate linearly from the
        // previous bucket's upper bound (0 below the first positive
        // bucket; a rank landing in +Inf returns the largest finite le).
        // Buckets per group are tiny (≤ dozens), so the interpreted array
        // lambdas are off the per-row hot path.
        val perLe = compile(df, inner, step)
        val groups = perLe.columns.toSeq
          .filterNot(c => c == TimeBucketAlias || c == "value" || c == "le")
        val leNum = when(col("le").isin("+Inf", "Inf", "inf"),
          lit(Double.PositiveInfinity)).otherwise(col("le").cast("double"))
        val g0 = perLe.withColumn("__le", leNum)
          .groupBy((col(TimeBucketAlias) +: groups.map(col)): _*)
          .agg(sort_array(collect_list(struct(col("__le").as("le"),
            col("value").cast("double").as("c")))).as("__bs0"))
        // ensureMonotonic: rebuild the array with a running max of c
        val g = g0.withColumn("__bs",
            aggregate(col("__bs0"),
              array().cast("array<struct<le:double,c:double>>"),
              (acc, x) => concat(acc, array(struct(
                x.getField("le").as("le"),
                greatest(x.getField("c"),
                  coalesce(element_at(acc, -1).getField("c"),
                    x.getField("c"))).as("c"))))))
          .drop("__bs0")
        val bs = col("__bs")
        val total = element_at(bs, -1).getField("c")
        val rank = lit(phi) * total
        val b = element_at(filter(bs, x => x.getField("c") >= rank), 1)
        val prev = element_at(filter(bs, x => x.getField("c") < rank), -1)
        val maxFinite = element_at(
          filter(bs, x => x.getField("le") =!=
            lit(Double.PositiveInfinity)), -1).getField("le")
        val start = when(prev.isNull, lit(0.0))
          .otherwise(prev.getField("le"))
        val prevC = when(prev.isNull, lit(0.0))
          .otherwise(prev.getField("c"))
        val res = when(b.isNull, lit(Double.NaN))
          .when(b.getField("le") === lit(Double.PositiveInfinity),
            maxFinite)
          .when(prev.isNull && b.getField("le") <= 0, b.getField("le"))
          .otherwise(start + (b.getField("le") - start) *
            (rank - prevC) / (b.getField("c") - prevC))
        g.withColumn("value", res).drop("__bs")
      case ot: OverTime =>
        // standalone *_over_time mirrors bare-selector semantics (one value
        // across series per bucket); the pick is ordered by the series key —
        // the bucket itself is constant within the group, which would leave
        // the choice to partitioning order
        val perSeries = overTimePerSeries(df, ot, Nil, step)
        perSeries.groupBy(col(TimeBucketAlias))
          .agg(max_by(col("value"), col("__series")).as("value"))
      case BinOp(op, l0, r0, matching) =>
        // group_right: compile as the mirrored group_left — the right
        // frame plays the many side — with the op flipped so the VALUE
        // is still f(original left, original right)
        val (l, r) = if (matching.flipped) (r0, l0) else (l0, r0)
        def f0(a: Column, b: Column): Column = op match {
          case "+" => a + b
          case "-" => a - b
          case "*" => a * b
          case "/" => promDiv(a, b)
          case "%" => promMod(a, b)
          case "^" => pow(a, b)
          case "atan2" => atan2(a, b)
        }
        def f(a: Column, b: Column): Column =
          if (matching.flipped) f0(b, a) else f0(a, b)
        (l, r) match {
          case (ScalarLit(_), ScalarLit(_)) =>
            throw new PromQlParseException(
              "scalar-only expressions are not queries")
          case (ScalarLit(a), _) =>
            compile(df, r, step).withColumn("value", f(lit(a), col("value")))
          case (_, ScalarLit(b)) =>
            compile(df, l, step).withColumn("value", f(col("value"), lit(b)))
          case _ =>
            val ld = compile(df, l, step).withColumnRenamed("value", "__lv")
            val rd = compile(df, r, step).withColumnRenamed("value", "__rv")
            val shared = ld.columns.toSeq
              .filter(c => c != "__lv" && rd.columns.contains(c))
            if (matching == VectorMatch()) {
              // one-to-one vector matching on (bucket ∩ shared labels)
              ld.join(rd, shared)
                .withColumn("value", f(col("__lv"), col("__rv")))
                .drop("__lv", "__rv")
            } else {
              // explicit matching: on() fixes the join labels, ignoring()
              // removes labels from the shared key; the right side
              // contributes only its value (+ group_left extra labels);
              // with on() and no group_left the result labels are the on()
              // set, with group_left the left side keeps all its labels
              // (documented deviation: the one-to-one duplicate-match check
              // is not enforced — a duplicate yields joined rows, not an
              // error)
              val keys: Seq[String] = matching.on match {
                case Some(ons) => TimeBucketAlias +: ons
                case None => shared.filterNot(matching.ignoring.contains)
              }
              val rdCols = keys.map(col) ++ matching.extra.map(col) :+
                col("__rv")
              val rdSel = rd.select(rdCols: _*)
              val ldSel0 =
                if (matching.on.isDefined && !matching.groupLeft)
                  ld.select(keys.map(col) :+ col("__lv"): _*)
                else ld
              // a group_left extra label already present on the left is
              // OVERWRITTEN by the right side (Prometheus semantics) — a
              // duplicate column would poison every later reference
              val ldSel = matching.extra
                .filterNot(keys.contains)
                .foldLeft(ldSel0)((d, c) =>
                  if (d.columns.contains(c)) d.drop(c) else d)
              ldSel.join(rdSel, keys)
                .withColumn("value", f(col("__lv"), col("__rv")))
                .drop("__lv", "__rv")
            }
        }
      case lr: LabelReplace =>
        compile(applyLabelReplace(df, lr), lr.inner, step)
      case lj: LabelJoin =>
        compile(applyLabelJoin(df, lj), lj.inner, step)
      case CountValues(label, inner) =>
        if (label == "value" || label == TimeBucketAlias)
          throw new PromQlParseException(
            s"count_values label '$label' collides with a result column")
        val g = compile(df, inner, step)
        // an existing label of the same name is REPLACED by the value
        // echo (Prometheus overwrites it)
        val labels = g.columns.toSeq
          .filterNot(c => c == TimeBucketAlias || c == "value" ||
            c == label)
        g.groupBy((col(TimeBucketAlias) +: labels.map(col) :+
            col("value").cast("string").as(label)): _*)
          .agg(count(lit(1)).cast("double").as("value"))
      case MathFn("sort", inner, _) =>
        compile(df, inner, step).orderBy(col("value").asc)
      case MathFn("sort_desc", inner, _) =>
        compile(df, inner, step).orderBy(col("value").desc)
      case MathFn(fn, inner, mfArg) =>
        val g = compile(df, inner, step)
        val v = col("value")
        lazy val tsOfV = timestamp_seconds(v.cast("long"))
        val mapped = fn match {
          case "abs" => abs(v)
          case "ceil" => ceil(v).cast("double")
          case "floor" => floor(v).cast("double")
          case "round" =>
            // Prometheus round(v[, to]): nearest multiple of `to`
            // (default 1), ties rounding UP — floor(v/to + ½)·to, not
            // SQL's ties-away-from-zero
            val to = lit(mfArg.getOrElse(1.0))
            (floor(v / to + lit(0.5)) * to).cast("double")
          case "exp" => exp(v)
          case "ln" => log(v)
          case "log2" => log2(v)
          case "log10" => log10(v)
          case "sqrt" => sqrt(v)
          case "sgn" => signum(v)
          case "sin" => sin(v)
          case "cos" => cos(v)
          case "tan" => tan(v)
          case "asin" => asin(v)
          case "acos" => acos(v)
          case "atan" => atan(v)
          case "sinh" => sinh(v)
          case "cosh" => cosh(v)
          case "tanh" => tanh(v)
          case "asinh" => asinh(v)
          case "acosh" => acosh(v)
          case "atanh" => atanh(v)
          case "deg" => degrees(v)
          case "rad" => radians(v)
          // the sample's timestamp, quantized to the evaluation
          // instant L+step — the SAME instant time() reports, so the
          // staleness idiom `time() - timestamp(m)` reads ~0 (the
          // actual sample time within the bucket is lost to the
          // aggregation; labels kept, unlike the label-free time())
          case "timestamp" =>
            (unix_timestamp(col(TimeBucketAlias)) + step).cast("double")
          // calendar components of v as epoch seconds, floored to whole
          // seconds like promql's time.Unix(int64(v)).UTC(); the session
          // timezone is UTC in LocalSession — a non-UTC session deviates
          case "minute" => minute(tsOfV).cast("double")
          case "hour" => hour(tsOfV).cast("double")
          // Spark dayofweek is 1=Sunday..7; PromQL 0=Sunday..6
          case "day_of_week" => (dayofweek(tsOfV) - 1).cast("double")
          case "day_of_month" => dayofmonth(tsOfV).cast("double")
          case "day_of_year" => dayofyear(tsOfV).cast("double")
          case "days_in_month" =>
            dayofmonth(last_day(tsOfV)).cast("double")
          case "month" => month(tsOfV).cast("double")
          case "year" => year(tsOfV).cast("double")
        }
        g.withColumn("value", mapped)
      case CmpOp(op, l, r, bool, matching) =>
        if (matching.flipped)
          throw new PromQlParseException(
            "group_right on comparisons is not supported; mirror the " +
              "comparison and use group_left")
        def pred(a: Column, b: Column): Column = op match {
          case ">" => a > b
          case "<" => a < b
          case ">=" => a >= b
          case "<=" => a <= b
          case "==" => a === b
          case "!=" => a =!= b
        }
        def finish(d: DataFrame, p: Column): DataFrame =
          if (bool) d.withColumn("value",
            when(p, 1.0).otherwise(0.0))
          else d.filter(p)
        (l, r) match {
          case (ScalarLit(_), ScalarLit(_)) =>
            throw new PromQlParseException(
              "scalar-only expressions are not queries")
          case (_, ScalarLit(b)) =>
            finish(compile(df, l, step), pred(col("value"), lit(b)))
          case (ScalarLit(a), _) =>
            finish(compile(df, r, step), pred(lit(a), col("value")))
          case _ =>
            // vector/vector: one-to-one match on (bucket ∩ shared labels)
            // (on()/ignoring() adjust the key like arithmetic binops);
            // filter semantics keep the LEFT side's value and labels.
            // group_left(extra…) copies the listed labels from the right
            // side, overwriting a left column of the same name (the
            // arithmetic BinOp's transfer rule)
            val ld = compile(df, l, step).withColumnRenamed("value", "__lv")
            val rd = compile(df, r, step).withColumnRenamed("value", "__rv")
            val shared = ld.columns.toSeq
              .filter(c => c != "__lv" && rd.columns.contains(c))
            val keys: Seq[String] = matching.on match {
              case Some(ons) => TimeBucketAlias +: ons
              case None => shared.filterNot(matching.ignoring.contains)
            }
            val ldSel = matching.extra
              .filterNot(keys.contains)
              .foldLeft(ld)((d, c) =>
                if (d.columns.contains(c)) d.drop(c) else d)
            val joined = ldSel.join(rd.select((keys.map(col) ++
              matching.extra.map(col) :+ col("__rv")): _*), keys)
            val p = pred(col("__lv"), col("__rv"))
            // bool writes the 1/0 INTO the left value slot before the
            // rename — a separate `value` column would collide with it
            val decided =
              if (bool) joined.withColumn("__lv",
                when(p, 1.0).otherwise(0.0))
              else joined.filter(p)
            decided
              .withColumnRenamed("__lv", "value")
              .drop("__rv")
        }
      case SetOp(op, l, r) =>
        val ld = compile(df, l, step)
        val rd = compile(df, r, step)
        val shared = ld.columns.toSeq
          .filter(c => c != "value" && rd.columns.contains(c))
        op match {
          case "and" => ld.join(rd.select(shared.map(col): _*).distinct(),
            shared, "left_semi")
          case "unless" => ld.join(rd.select(shared.map(col): _*)
            .distinct(), shared, "left_anti")
          case "or" =>
            // all left series, plus right series with no left match on the
            // shared label columns
            val rightOnly = rd.join(
              ld.select(shared.map(col): _*).distinct(), shared,
              "left_anti")
            ld.unionByName(rightOnly, allowMissingColumns = true)
        }
      case ots: OverTimeSub =>
        // subquery: evaluate the inner expression as its own range query
        // at subStep resolution, then slide the outer (t − range, t]
        // lookback over the inner evaluations with the same
        // explode-to-contributing-steps trick as *_over_time — fan-out
        // bounded by ⌈range/step⌉, one extra hash shuffle total
        val sub = if (ots.subStep == 0) step else ots.subStep
        val inner = compile(df, ots.inner, sub)
        val labels = inner.columns.toSeq
          .filterNot(c => c == TimeBucketAlias || c == "value")
        val v = col("value")
        val range = ots.rangeSeconds
        // window-END eval at __t emits at the window-START label __t − step
        // (one bucket convention across all families — see header doc).
        // explodeToSteps windows on the sample INSTANT: an inner
        // evaluation labeled u happened at instant u + sub (the inner
        // frame's own convention) — feeding the label directly would
        // shift every subquery one step early relative to the raw
        // *_over_time path
        val grouped = explodeToSteps(
          inner.withColumn("__u",
            unix_timestamp(col(TimeBucketAlias)) + sub),
          range, step)
          .drop(TimeBucketAlias)
          .withColumn(TimeBucketAlias,
            timestamp_seconds(col("__t") - step))
          .groupBy((col(TimeBucketAlias) +: labels.map(col)): _*)
        ots.op match {
          case "mad" =>
            // median absolute deviation needs two ranked passes over the
            // window's values — collect the (query-shape-bounded) window
            // and rank in-expression
            withMad(grouped.agg(collect_list(v).as("__vals")),
              "__vals", "value")
              .drop("__vals")
          case op =>
            val agg = op match {
              case "avg" => avg(v)
              case "min" => min(v)
              case "max" => max(v)
              case "sum" => sum(v)
              case "count" => count(v)
              case "last" => max_by(v, col("__u"))
              case "present" => max(lit(1.0))
              case "stddev" => stddev_pop(v)
              case "stdvar" => var_pop(v)
              case "quantile" => call_function("percentile", v,
                lit(ots.level.getOrElse(throw new PromQlParseException(
                  "quantile_over_time needs a level"))))
            }
            grouped.agg(agg.as("value"))
        }
      case At(inner, spec) =>
        // @ modifier: evaluate the subtree once at the pinned instant's
        // step bucket (instants quantize to the step grid — documented
        // deviation) and replicate that evaluation across the frame's
        // bucket spine. The pinned frame is one row per series —
        // broadcast both the pin row and the replication join.
        val g = compile(df, inner, step)
        val pinRow = spec match {
          case AtTime(t) =>
            // bucket L's evaluation instant is L+step (header doc), so
            // the pin t selects the bucket whose data ends at the
            // largest grid instant ≤ t: L = floor(t/step)·step − step.
            // An on-grid pin is exactly Prometheus; a mid-bucket pin
            // quantizes DOWN (never sees data after the pin) — the
            // causal side of the documented step-grid deviation
            val L = Math.floorDiv(t, step) * step - step
            g.sparkSession.range(1)
              .select(timestamp_seconds(lit(L)).as(TimeBucketAlias))
          case AtStart => bucketSpine(df, step)
            .agg(min(col(TimeBucketAlias)).as(TimeBucketAlias))
          case AtEnd => bucketSpine(df, step)
            .agg(max(col(TimeBucketAlias)).as(TimeBucketAlias))
        }
        val pinned = g.join(broadcast(pinRow), Seq(TimeBucketAlias))
          .drop(TimeBucketAlias)
        bucketSpine(df, step).crossJoin(broadcast(pinned))
          .select((col(TimeBucketAlias) +:
            pinned.columns.toSeq.map(col)): _*)
      case Clamp(inner, lo, hi) =>
        val g = compile(df, inner, step)
        val clamped = (lo, hi) match {
          case (Some(l), Some(h)) => least(greatest(col("value"), lit(l)),
            lit(h))
          case (Some(l), None) => greatest(col("value"), lit(l))
          case (None, Some(h)) => least(col("value"), lit(h))
          case _ => col("value")
        }
        g.withColumn("value", clamped)
      case ScalarOf(inner) =>
        // per-step scalar: the single series' value, NaN when the inner
        // vector has 0 or >1 series at that step — the label-less frame
        // makes every binop join it on the bucket alone. Aggregated
        // over the full bucket spine (left join), so a step where the
        // inner vector is EMPTY yields the NaN row Prometheus would
        // propagate rather than silently vanishing from the result
        val counted = compile(df, inner, step)
          .groupBy(col(TimeBucketAlias))
          .agg(count(lit(1)).as("__n"), first(col("value")).as("__v"))
        bucketSpine(df, step)
          .join(counted, Seq(TimeBucketAlias), "left")
          .withColumn("value", when(col("__n") === 1, col("__v"))
            .otherwise(lit(Double.NaN)))
          .select(col(TimeBucketAlias), col("value"))
      case VectorOf(x) =>
        bucketSpine(df, step).withColumn("value", lit(x))
      case TimeFn =>
        // the evaluation instant of bucket L is L + step (header doc)
        bucketSpine(df, step).withColumn("value",
          (unix_timestamp(col(TimeBucketAlias)) + step).cast("double"))
      case Absent(sel) =>
        // 1 at each step bucket of the CONTIGUOUS spine between the
        // frame's first and last bucket where the selector matches
        // nothing — sequence() fills frame gaps, so a metric missing in
        // the middle of the range is reported absent there too;
        // equality-matcher labels are echoed like Prometheus (documented
        // deviation: an entirely-empty frame yields no rows — the engine
        // has no explicit query range to span)
        val spine = bucketSpine(df, step)
        val present = applySelector(df, sel)
          .select(timeBucket(col("TimeUnix"), step).as(TimeBucketAlias))
          .distinct()
        val gaps = spine.join(present, Seq(TimeBucketAlias), "left_anti")
          .withColumn("value", lit(1.0))
        echoMatchers(gaps, sel)
      case AbsentOverTime(sel, range) =>
        // sliding twin of absent(): the spine is every step-aligned eval
        // time whose (t − range, t] window overlaps the frame's sample
        // span (a contiguous sequence between the first and last eval
        // step — frame gaps longer than the range still yield absent
        // steps); the selector's samples explode to the eval steps they
        // feed (distinct seconds first, so the fan-out runs over
        // |distinct seconds| rows), then anti-join
        val u = unix_timestamp(col("TimeUnix"))
        val spineOt = df.agg(min(u).as("__mn"), max(u).as("__mx"))
          .filter(col("__mn").isNotNull)
          .select(explode(sequence(
            expr(s"((__mn + ${step - 1}) DIV $step) * $step"),
            expr(s"((__mx + ${range - 1}) DIV $step) * $step"),
            lit(step))).as("__t"))
          .select(timestamp_seconds(col("__t") - step).as(TimeBucketAlias))
        val present = explodeToSteps(
          applySelector(df, sel).select(u.as("__u")).distinct(),
          range, step)
          .select(timestamp_seconds(col("__t") - step).as(TimeBucketAlias))
          .distinct()
        val gapsOt = spineOt
          .join(present, Seq(TimeBucketAlias), "left_anti")
          .withColumn("value", lit(1.0))
        echoMatchers(gapsOt, sel)
      case ScalarLit(_) =>
        throw new PromQlParseException(
          "scalar-only expressions are not queries")
    }

  /** PromQL (IEEE-754) division: x/0 → ±Inf by the sign of x, 0/0 → NaN.
    * Spark SQL's `/` yields NULL on a zero divisor, so the zero case is
    * rewritten explicitly; NULL operands stay NULL (missing points). */
  private def promDiv(a: Column, b: Column): Column =
    when(a.isNull || b.isNull, lit(null).cast("double"))
      .when(b =!= 0.0, a / b)
      .when(a > 0.0, lit(Double.PositiveInfinity))
      .when(a < 0.0, lit(Double.NegativeInfinity))
      .otherwise(lit(Double.NaN))

  /** PromQL `%` (Go math.Mod): x % 0 → NaN where Spark SQL answers
    * NULL; the JVM's double remainder otherwise matches Go's (sign of
    * the dividend). NULL operands stay NULL (missing points). */
  private def promMod(a: Column, b: Column): Column =
    when(a.isNull || b.isNull, lit(null).cast("double"))
      .when(b =!= 0.0, a % b)
      .otherwise(lit(Double.NaN))

  private def aggregate0(g: DataFrame, op: String, by: Seq[String])
      : DataFrame = {
    val agg = op match {
      case "sum" => sum(col("value"))
      case "avg" => avg(col("value"))
      case "min" => min(col("value"))
      case "max" => max(col("value"))
      case "count" => count(col("value"))
      // group: constant 1 per output group (Prometheus's presence aggr)
      case "group" => max(lit(1.0))
      // Prometheus stddev/stdvar are population statistics
      case "stddev" => stddev_pop(col("value"))
      case "stdvar" => var_pop(col("value"))
      case q if q.startsWith("quantile:") =>
        call_function("percentile", col("value"),
          lit(q.drop("quantile:".length).toDouble))
    }
    g.groupBy((col(TimeBucketAlias) +: by.map(col)): _*)
      .agg(agg.as("value"))
  }

  /** Contiguous step-bucket spine spanning the frame's time extent (one
    * tiny global-agg row exploded to the bucket sequence). */
  private def bucketSpine(df: DataFrame, step: Long): DataFrame = {
    val b = timeBucket(col("TimeUnix"), step)
    df.agg(min(b).as("__mn"), max(b).as("__mx"))
      .filter(col("__mn").isNotNull)
      .select(explode(sequence(col("__mn"), col("__mx"),
        expr(s"INTERVAL $step SECOND"))).as(TimeBucketAlias))
  }

  /** Echo a selector's equality matchers as literal label columns on an
    * absent() result — skipping names that would clobber the result
    * columns. */
  private def echoMatchers(d: DataFrame, sel: Selector): DataFrame =
    sel.matchers
      .filter(m => m._2 == "=" && m._1 != "value" &&
        m._1 != TimeBucketAlias)
      .foldLeft(d)((acc, m) => acc.withColumn(m._1, lit(m._3)))

  /** Shared window fan-out: explode a frame carrying epoch-second `__u`
    * to every step-aligned eval time t with t − range < u ≤ t, as `__t`.
    * Integer ceil-division bounds: first eval step ≥ u, last eval step
    * ≤ u + range − 1; range < step can leave a sample between eval steps
    * (no bucket) — the NULL sequence drops those rows. ALL sliding-window
    * semantics route through here so the (t − range, t] boundary rule has
    * exactly one implementation. */
  private def explodeToSteps(d: DataFrame, range: Long, step: Long)
      : DataFrame =
    if (range == step)
      // a sample feeds exactly one eval step when range == step
      // (tmin == tmax in the general formula below) — skip the Generate
      d.withColumn("__t", expr(s"((__u + ${step - 1}) DIV $step) * $step"))
    else d
      .withColumn("__tmin", expr(s"((__u + ${step - 1}) DIV $step) * $step"))
      .withColumn("__tmax", expr(s"((__u + ${range - 1}) DIV $step) * $step"))
      .withColumn("__t", explode(when(col("__tmax") >= col("__tmin"),
        sequence(col("__tmin"), col("__tmax"), lit(step)))))

  /** Per-series sliding range aggregate for `*_over_time`, Prometheus
    * semantics: at each step-aligned evaluation time t, aggregate the
    * samples of the series with t − range < u ≤ t. Declared as an
    * explode-to-contributing-steps + groupBy — each sample lands in at most
    * ⌈range/step⌉ evaluation buckets, so the fan-out is bounded by the
    * query shape (not data volume) and the whole pipeline stays one
    * hash-shuffle on (series, bucket); no per-step window scan. Sample
    * times quantize to whole seconds (unix_timestamp) on both engine and
    * oracle sides. The window-END evaluation at t is emitted at the
    * window-START label t − step (one bucket convention across families).
    * Output columns: __series, __time_bucket, by…, value. */
  private def overTimePerSeries(df: DataFrame, ot: OverTime,
      by: Seq[String], stepSeconds: Long): DataFrame = {
    val src = withLabels(applySelector(df, ot.sel), by)
    val v = col("Value").cast("double")
    val range = ot.windowSeconds
    val needsPair = Set("irate", "idelta", "resets", "changes")
      .contains(ot.op)
    val keyed0 = src
      .withColumn("__series", MetricCompiler.attributesHash(src))
      .withColumn("__u", unix_timestamp(col("TimeUnix")))
    val keyed =
      if (!needsPair) keyed0
      else {
        // pair each sample with its predecessor ONCE per series; the
        // window pick then just selects the latest in-window pair
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__series")).orderBy(col("__u"))
        keyed0.withColumn("__pu", lag(col("__u"), 1).over(w))
          .withColumn("__pv", lag(v, 1).over(w))
      }
    // integer ceil-division bounds: first eval step ≥ u, last eval step
    // ≤ u + range − 1 (t − range < u ≤ t over whole seconds); __t stays
    // the eval time through the aggregation, the label shifts at the end
    val stepped = explodeToSteps(keyed, range, stepSeconds)
    val grouped = stepped
      .groupBy((col("__series") +: col("__t") +: by.map(col)): _*)
    def finish(d: DataFrame): DataFrame = d
      .withColumn(TimeBucketAlias,
        timestamp_seconds(col("__t") - stepSeconds))
      .drop("__t")
    ot.op match {
      case "resets" | "changes" =>
        // count consecutive in-window pairs that drop (resets) / differ
        // (changes); a pair whose predecessor precedes the window doesn't
        // count, like Prometheus
        val inWindow = col("__pu").isNotNull &&
          col("__pu") > col("__t") - lit(range)
        val hit =
          if (ot.op == "resets") col("__pv") > v else v =!= col("__pv")
        finish(grouped.agg(sum(when(inWindow && hit, 1L).otherwise(0L))
          .as("value")))
      case "irate" | "idelta" =>
        // latest sample in the window whose PREDECESSOR is also inside
        // (both samples of the instant pair must be in range, like
        // Prometheus); irate clamps counter resets (v < prev ⇒ delta=v)
        // and divides by the pair's gap, idelta is the raw difference
        val inWindow = col("__pu").isNotNull &&
          col("__pu") > col("__t") - lit(range)
        val pick = max_by(
          struct(col("__u").as("u"), col("__pu").as("pu"), v.as("v"),
            col("__pv").as("pv")),
          when(inWindow, col("__u"))).as("__p")
        // re-assert the pair predicate on the picked struct: max_by may
        // fall back to a null-keyed row when no row qualifies
        val picked = grouped.agg(pick)
          .filter(col("__p").isNotNull && col("__p.pu").isNotNull &&
            col("__p.pu") > col("__t") - lit(range))
        val d = when(col("__p.v") < col("__p.pv"), col("__p.v"))
          .otherwise(col("__p.v") - col("__p.pv"))
        val value = ot.op match {
          case "irate" => d / (col("__p.u") - col("__p.pu"))
          case _ => col("__p.v") - col("__p.pv")
        }
        finish(picked.withColumn("value", value).drop("__p"))
      case "delta" =>
        // Prometheus delta: extrapolatedRate with isCounter=false — the
        // raw (last − first) extrapolated to the window boundaries with
        // gaps capped at 1.1× the average sample interval (else half an
        // interval), like slidingRate but with no monotonicization and
        // no zero-crossing cap (promql functions.go extrapolatedRate).
        // Windows with fewer than two samples emit no point.
        val g = grouped
          .agg(count(lit(1)).as("__n"),
            min(col("__u")).as("__tf"), max(col("__u")).as("__tl"),
            min_by(v, col("__u")).as("__vf"),
            max_by(v, col("__u")).as("__vl"))
          .filter(col("__n") >= 2 && col("__tl") > col("__tf"))
        val sampled = (col("__tl") - col("__tf")).cast("double")
        val avgIv = sampled / (col("__n") - 1)
        val thresh = avgIv * 1.1
        val startGap =
          (col("__tf") - (col("__t") - lit(range))).cast("double")
        val endGap = (col("__t") - col("__tl")).cast("double")
        val startDur = when(startGap >= thresh, avgIv / 2)
          .otherwise(startGap)
        val endDur = when(endGap >= thresh, avgIv / 2).otherwise(endGap)
        val dv = col("__vl") - col("__vf")
        finish(g
          .withColumn("value", dv * (sampled + startDur + endDur) / sampled)
          .drop("__n", "__tf", "__tl", "__vf", "__vl"))
      case "holt" =>
        // double exponential smoothing (promql
        // funcDoubleExponentialSmoothing): fold the window's time-ordered
        // samples with (s, b) state — s₀ = v₁, b₀ = v₂ − v₁, then
        // s = sf·vᵢ + (1−sf)(s+b); b = tf·(s−s_prev) + (1−tf)·b; the
        // result is the final smoothed s. Windows hold ≤ the window's
        // sample count, so the collected array is bounded by query shape.
        val sf = lit(ot.level.getOrElse(throw new PromQlParseException(
          "holt_winters needs smoothing factors")))
        val tf = lit(ot.level2.getOrElse(throw new PromQlParseException(
          "holt_winters needs smoothing factors")))
        val arr = sort_array(collect_list(struct(col("__u").as("u"),
          v.as("v"))))
        val g = grouped.agg(arr.as("__xs")).filter(size(col("__xs")) >= 2)
        val vs = transform(col("__xs"), x => x.getField("v"))
        val x1 = element_at(vs, 1)
        val x2 = element_at(vs, 2)
        val init = struct(x1.as("s"), (x2 - x1).as("b"))
        val folded = aggregate(
          slice(vs, lit(2), size(vs) - 1), init,
          (acc, x) => {
            val s1 = sf * x +
              (lit(1.0) - sf) * (acc.getField("s") + acc.getField("b"))
            struct(s1.as("s"),
              (tf * (s1 - acc.getField("s")) +
                (lit(1.0) - tf) * acc.getField("b")).as("b"))
          })
        finish(g.withColumn("value", folded.getField("s")).drop("__xs"))
      case "deriv" | "predict_linear" =>
        // least-squares regression of value on sample time within the
        // window (promql funcDeriv/funcPredictLinear): slope = cov/var;
        // predict_linear evaluates the fit `horizon` seconds past the
        // eval time T — fitting v = a + b·(u − T) gives
        // a = mean_v + b·(T − mean_u), predicted = a + b·horizon.
        // Needs ≥ 2 samples at distinct times, like Prometheus.
        val du = col("__u").cast("double")
        val g = grouped.agg(count(lit(1)).as("__n"),
            avg(du).as("__mu"), avg(v).as("__mv"),
            covar_pop(du, v).as("__cov"), var_pop(du).as("__var"))
          .filter(col("__n") >= 2 && col("__var") > 0)
        val slope = col("__cov") / col("__var")
        val value =
          if (ot.op == "deriv") slope
          else col("__mv") + slope *
            (col("__t").cast("double") - col("__mu") +
              lit(ot.level.getOrElse(throw new PromQlParseException(
                "predict_linear needs a horizon"))))
        finish(g.withColumn("value", value)
          .drop("__n", "__mu", "__mv", "__cov", "__var"))
      case "mad" =>
        // two ranked passes (median, then median of |x − median|) —
        // collect the window (bounded by ⌈range/interval⌉ samples) and
        // rank in-expression
        finish(withMad(grouped.agg(collect_list(v).as("__vals")),
          "__vals", "value")
          .drop("__vals"))
      case op =>
        // cell-mergeable aggregates pre-aggregate per (series, step cell)
        // BEFORE the fan-out when each window is an exact union of cells
        // (range a step multiple): samples pass through Generate + the
        // map-side hash map once instead of range/step times (the
        // exchange was bounded either way by partial aggregation). The
        // per-sample explode only remains for rank-based ops
        // (quantile/mad) and moment stats kept on Spark's fused
        // implementations. Partials are per-op minimal so the cell
        // shuffle carries no dead columns.
        val cellPartials: Option[(Seq[Column], Column)] = op match {
          case "sum" => Some((Seq(sum(v).as("__p")), sum(col("__p"))))
          case "count" => Some((Seq(count(v).as("__p")), sum(col("__p"))))
          case "avg" => Some((Seq(sum(v).as("__ps"),
            count(v).as("__pn")),
            sum(col("__ps")) / sum(col("__pn"))))
          case "min" => Some((Seq(min(v).as("__p")), min(col("__p"))))
          case "max" => Some((Seq(max(v).as("__p")), max(col("__p"))))
          case "last" => Some((Seq(max(col("TimeUnix")).as("__plu"),
            max_by(v, col("TimeUnix")).as("__plv")),
            max_by(col("__plv"), col("__plu"))))
          case "present" => Some((Seq(max(lit(1.0)).as("__p")),
            max(col("__p"))))
          case _ => None
        }
        cellPartials match {
          case Some((partials, fin))
              if range != stepSeconds && range % stepSeconds == 0 =>
            val merged = keyed
              .withColumn("__c", expr(
                s"((__u + ${stepSeconds - 1}) DIV $stepSeconds) " +
                  s"* $stepSeconds"))
              .groupBy((col("__series") +: col("__c") +:
                by.map(col)): _*)
              .agg(partials.head, partials.tail: _*)
              .withColumn("__t", explode(sequence(col("__c"),
                col("__c") + lit(range - stepSeconds),
                lit(stepSeconds))))
              .groupBy((col("__series") +: col("__t") +:
                by.map(col)): _*)
            finish(merged.agg(fin.as("value")))
          case _ =>
            val agg = op match {
              case "avg" => avg(v)
              case "min" => min(v)
              case "max" => max(v)
              case "sum" => sum(v)
              case "count" => count(v)
              case "last" => max_by(v, col("TimeUnix"))
              // present_over_time: 1 per series window with a sample
              case "present" => max(lit(1.0))
              // population statistics, like cross-series aggregators
              case "stddev" => stddev_pop(v)
              case "stdvar" => var_pop(v)
              case "quantile" => call_function("percentile", v,
                lit(ot.level.getOrElse(throw new PromQlParseException(
                  "quantile_over_time needs a level"))))
            }
            finish(grouped.agg(agg.as("value")))
        }
    }
  }

  /** Prometheus-interpolating quantile over an UNSORTED collected array:
    * rank φ·(n−1) with linear interpolation between the straddling order
    * statistics — the same math quantile_over_time's `percentile` uses. */
  private def arrayQuantile(a: Column, phi: Double): Column = {
    val srt = array_sort(a)
    val n = size(srt)
    val rank = (n - 1).cast("double") * phi
    val lo = floor(rank).cast("int")
    val frac = rank - lo.cast("double")
    // lower + (higher − lower)·frac — the exact float shape of Spark's
    // `percentile` AND promql's quantile, so oracles mirror it ulp-for-ulp
    // (a·(1−f) + b·f can differ in the last ulp). The hi index clamps to n:
    // when frac = 0 the term is weight-0 but must stay in bounds.
    val lo1 = element_at(srt, lo + 1)
    when(n === 0, lit(null)).otherwise(
      lo1 + (element_at(srt, least(lo + 2, n)) - lo1) * frac)
  }

  /** mad_over_time: median absolute deviation around the window median,
    * both medians Prometheus-interpolating (promql functions.go
    * funcMadOverTime). Two-projection shape: the window median binds to
    * a COLUMN first, so the deviation lambda references an attribute —
    * inlining the median expression into the transform() re-evaluated
    * its O(m log m) sort per element, O(m² log m) per window (measured
    * 67.5 s at the 100× events probe; 14.0 s hoisted). */
  private def withMad(df: DataFrame, vals: String,
      out: String): DataFrame =
    df.withColumn("__mad_med", arrayQuantile(col(vals), 0.5))
      .withColumn(out, arrayQuantile(
        transform(col(vals), x => abs(x - col("__mad_med"))), 0.5))
      .drop("__mad_med")

  /** Prometheus extrapolatedRate per series per sliding (t − range, t]
    * window: monotonicize cumulative counters (running reset
    * compensation; delta-temporality rows synthesize the cumulative
    * series via a running sum), explode each sample to its contributing
    * eval steps (same bounded fan-out as `*_over_time`), then per window
    * compute `delta = adjLast − adjFirst` extrapolated to the window
    * boundaries: gaps shorter than 1.1× the average sample interval
    * extrapolate fully, longer gaps by half an interval, and a positive
    * counter never extrapolates past its zero crossing. Windows with
    * fewer than two samples produce no point, like Prometheus. The
    * window-END evaluation at t emits at the window-START label t − step
    * (one bucket convention across families — header doc). */
  private def slidingRate(df: DataFrame, sel: Selector, range: Long,
      step: Long, by: Seq[String], increase: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val src = withLabels(applySelector(df, sel), by)
    val keyed = src
      .withColumn("__series", MetricCompiler.attributesHash(src))
      .withColumn("__u", unix_timestamp(col("TimeUnix")))
      .withColumn("__v", col("Value").cast("double"))
    val w = Window.partitionBy(col("__series")).orderBy(col("__u"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col("__v"), 1).over(w)
    val resetComp = sum(when(prev > col("__v"), prev).otherwise(lit(0.0)))
      .over(cum)
    val runningSum = sum(col("__v")).over(cum)
    val isDelta =
      if (keyed.columns.contains("AggregationTemporality"))
        col("AggregationTemporality") === 1
      else lit(false)
    val adj = keyed.withColumn("__adj",
      when(isDelta, runningSum)
        .otherwise(col("__v") + coalesce(resetComp, lit(0.0))))
    // When range is a step multiple, each window is an exact union of
    // step cells, and every statistic here is cell-mergeable (count sums;
    // first/last are min_by/max_by selections) — so pre-aggregate per
    // (series, cell) BEFORE the fan-out. The exchange volume was already
    // bounded either way (Spark partial-aggregates map-side), but the
    // per-sample explode pushes samples × range/step rows through
    // Generate + the map-side hash map; the cell path processes each
    // sample once and fans out only cell summaries — at
    // scrape-interval ≪ step density (the 100-TB case) that is k× less
    // per-row aggregation work, for one extra cell-sized exchange.
    // Results are bit-identical — the merged statistics are the same
    // selections.
    val g0 =
      if (range != step && range % step == 0)
        adj
          .withColumn("__c",
            expr(s"((__u + ${step - 1}) DIV $step) * $step"))
          .groupBy((col("__series") +: col("__c") +: by.map(col)): _*)
          .agg(count(lit(1)).as("__pn"),
            min(col("__u")).as("__ptf"), max(col("__u")).as("__ptl"),
            min_by(col("__adj"), col("__u")).as("__paf"),
            max_by(col("__adj"), col("__u")).as("__pal"),
            min_by(col("__v"), col("__u")).as("__pvf"))
          .withColumn("__t", explode(sequence(col("__c"),
            col("__c") + lit(range - step), lit(step))))
          .groupBy((col("__series") +: col("__t") +: by.map(col)): _*)
          .agg(sum(col("__pn")).as("__n"),
            min(col("__ptf")).as("__tf"), max(col("__ptl")).as("__tl"),
            min_by(col("__paf"), col("__ptf")).as("__af"),
            max_by(col("__pal"), col("__ptl")).as("__al"),
            min_by(col("__pvf"), col("__ptf")).as("__vf"))
      else explodeToSteps(adj, range, step)
        .groupBy((col("__series") +: col("__t") +: by.map(col)): _*)
        .agg(count(lit(1)).as("__n"),
          min(col("__u")).as("__tf"), max(col("__u")).as("__tl"),
          min_by(col("__adj"), col("__u")).as("__af"),
          max_by(col("__adj"), col("__u")).as("__al"),
          min_by(col("__v"), col("__u")).as("__vf"))
    val g = g0.filter(col("__n") >= 2 && col("__tl") > col("__tf"))
    val sampled = (col("__tl") - col("__tf")).cast("double")
    val avgIv = sampled / (col("__n") - 1)
    val thresh = avgIv * 1.1
    val delta = col("__al") - col("__af")
    val startGap = (col("__tf") - (col("__t") - lit(range))).cast("double")
    val endGap = (col("__t") - col("__tl")).cast("double")
    // Prometheus caps the start gap at the zero crossing FIRST, then
    // applies the extrapolation threshold to the capped gap
    val zeroDur = sampled * (col("__vf") / delta)
    val startGapCapped = when(delta > 0 && col("__vf") >= 0 &&
      zeroDur < startGap, zeroDur).otherwise(startGap)
    val startDur = when(startGapCapped >= thresh, avgIv / 2)
      .otherwise(startGapCapped)
    val endDur = when(endGap >= thresh, avgIv / 2).otherwise(endGap)
    val inc = delta * (sampled + startDur + endDur) / sampled
    g.withColumn("value",
        if (increase) inc else inc / lit(range.toDouble))
      .withColumn(TimeBucketAlias, timestamp_seconds(col("__t") - step))
      .select((col("__series") +: col(TimeBucketAlias) +: by.map(col) :+
        col("value")): _*)
  }

  /** label_replace as a frame rewrite: fully-anchored match against the
    * src label, capture-group replacement into dst, empty result drops the
    * label, no match leaves the vector untouched. dst is written into
    * Attributes (re-keying series like Prometheus); a physical column of
    * the same name would shadow it on lookup — documented limitation. */
  private def applyLabelReplace(df: DataFrame, lr: LabelReplace)
      : DataFrame = {
    val anchored = s"^(?:${lr.regex})$$"
    val srcV = coalesce(labelCol(lr.src, df).cast("string"), lit(""))
    val newV = regexp_replace(srcV, anchored, lr.repl)
    val dstRemoved = map_filter(col("Attributes"),
      (k, _) => k =!= lr.dst)
    val rewritten = when(!srcV.rlike(anchored), col("Attributes"))
      .when(newV === "", dstRemoved)
      .otherwise(map_concat(dstRemoved, map(lit(lr.dst), newV)))
    df.withColumn("Attributes", rewritten)
  }

  /** label_join as a frame rewrite: dst = sep-joined src label values
    * (missing labels contribute empty strings, like Prometheus); an
    * all-empty join result drops dst. Same Attributes re-keying rules as
    * [[applyLabelReplace]]. */
  private def applyLabelJoin(df: DataFrame, lj: LabelJoin): DataFrame = {
    // concat_ws skips NULLs (Prometheus keeps empties), so coalesce first
    val joined = concat_ws(lj.sep,
      lj.srcs.map(s => coalesce(labelCol(s, df).cast("string"), lit(""))): _*)
    val dstRemoved = map_filter(col("Attributes"), (k, _) => k =!= lj.dst)
    val rewritten = when(joined === "", dstRemoved)
      .otherwise(map_concat(dstRemoved, map(lit(lj.dst), joined)))
    df.withColumn("Attributes", rewritten)
  }

  /** Canonical JSON of the labels surviving a `without (drop…)`:
    * ServiceName (when present and not dropped) + Attributes entries minus
    * the dropped names, serialized as sorted (key, value) entries —
    * identical label sets always produce identical strings, so the column
    * is a safe grouping key. MetricName is always dropped, like
    * Prometheus drops __name__ on aggregation. */
  private def survivingLabels(df: DataFrame, drop: Seq[String]): Column = {
    val dropArr = array(drop.map(lit): _*)
    val attrs = map_filter(col("Attributes"),
      (k, _) => !array_contains(dropArr, k) && k =!= "ServiceName")
    val withSvc =
      if (df.columns.contains("ServiceName") && !drop.contains("ServiceName"))
        map_concat(map(lit("ServiceName"), col("ServiceName").cast("string")),
          attrs)
      else attrs
    to_json(array_sort(map_entries(withSvc)))
  }

  /** Pre-materialize attribute labels as columns so `by (label)` grouping
    * works for map-resident labels. */
  def withLabels(df: DataFrame, labels: Seq[String]): DataFrame =
    labels.foldLeft(df)((d, l) =>
      if (d.columns.contains(l)) d
      else d.withColumn(l, element_at(col("Attributes"), l)))
}
