package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.Tokens

/** Continuous crawl-novelty monitor — the streaming twin of
  * [[graft.pipeline.Dedup.gramNovelty]]: per (key, tumbling window),
  * how many of the arriving documents' distinct n-grams have NEVER
  * been seen on this key before. The live "is this crawl still finding
  * new content?" read: recrawled boilerplate scores ~0, fresh content
  * ~1, and the trend over windows is the diminishing-returns curve
  * crawl budgeting watches in real time.
  *
  * Design: the batch twin attributes first-sight by GLOBAL id order;
  * a stream cannot (the past is unbounded), so history lives in a
  * per-key BLOOM FILTER carried in state — bounded bytes forever, at
  * the price of a small false-positive rate that UNDERCOUNTS novelty
  * (a FP claims "seen before"; never overcounts). Membership uses
  * Kirsch–Mitzenmacher double hashing (h1 + i·h2 over the gram's
  * MurmurHash3, k = 4 probes) — the same construction as
  * [[graft.pipeline.Bloom]], restated over a state-carried byte
  * array.
  *
  * Grams fold in ARRIVAL order (documented deviation from the batch
  * twin's id order: within a lateness window the order of first-sight
  * attribution between two docs sharing a new gram can differ — the
  * per-WINDOW totals this emits are insensitive to which of the two
  * got the credit unless they land in different windows). Per-doc
  * grams are de-duplicated before the fold, matching the batch twin.
  *
  * State per key = the bloom (fixed `bloomBytes`) + one (count,
  * novel) pair per OPEN window — volume-independent. Windows emit
  * when the watermark passes them (the EwmaStream finalize shape),
  * with an event-time timeout re-armed on the oldest open window so
  * quiet keys still flush.
  */
object NoveltyStream {

  /** Per-key state: bloom bytes + per-open-window (grams, novel)
    * counters. Public for the state encoder (the EwmaState rule). */
  final case class NovState(bloom: Array[Byte],
      bufN: Map[Long, Long], bufNov: Map[Long, Long])

  final case class NoveltyRow(key: String,
      window_start: java.sql.Timestamp, n_grams: Long,
      n_novel_est: Long, novelty_est: Double)

  private val Probes = 4

  /** Test membership AND insert in one pass: returns true when the
    * gram was already present (all probe bits set before insert). */
  private def seenAndInsert(bloom: Array[Byte], gram: String): Boolean = {
    val bits = bloom.length.toLong * 8L
    val h1 = scala.util.hashing.MurmurHash3.stringHash(gram, 0x9747b28c)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(gram, 0x5bd1e995) | 1
    var seen = true
    var i = 0
    while (i < Probes) {
      // Kirsch–Mitzenmacher: bit_i = (h1 + i·h2) mod bits, sign-safe
      val pos = java.lang.Math.floorMod(
        h1.toLong + i.toLong * h2.toLong, bits)
      val byteIdx = (pos >>> 3).toInt
      val mask = (1 << (pos & 7L).toInt).toByte
      if ((bloom(byteIdx) & mask) == 0) {
        seen = false
        bloom(byteIdx) = (bloom(byteIdx) | mask).toByte
      }
      i += 1
    }
    seen
  }

  /** Distinct word n-grams of one document (lowercased whitespace
    * tokens — the gramNovelty spelling). */
  private def grams(text: String, n: Int): Iterator[String] =
    if (text == null) Iterator.empty
    else {
      val toks = Tokens.lowered(text).filter(_.nonEmpty)
      if (toks.length < n) Iterator.empty
      else toks.sliding(n).map(_.mkString(" ")).toSet.iterator
    }

  /** Append-mode novelty rows for watermark-closed windows. Rows
    * later than latenessSeconds are dropped by Spark's watermark
    * filter before the fold; the fold ALSO refuses to re-open a
    * bucket the watermark closed (belt-and-braces against the
    * one-batch lag between the filter predicate and the fold's view),
    * so each (key, window_start) appears at most once in the sink. */
  def monitor(stream: DataFrame, tsCol: String, keyCol: String,
      textCol: String, windowSeconds: Long, gramN: Int = 5,
      bloomBytes: Int = 1 << 17, latenessSeconds: Long = 0L)
      : Dataset[NoveltyRow] = {
    require(windowSeconds > 0, "window must be positive")
    require(gramN >= 1, "gram size must be >= 1")
    require(bloomBytes >= 64, "bloom must be at least 64 bytes")
    val spark = stream.sparkSession
    import spark.implicits._
    // the watermark column must SURVIVE into the stateful operator
    // (event-time timeout requires it in scope) — the EwmaStream rule
    val rows = stream
      .withWatermark(tsCol, s"$latenessSeconds seconds")
      .select(col(keyCol).cast("string").as("k"),
        (floor(unix_timestamp(col(tsCol)) / windowSeconds) *
          windowSeconds).cast("long").as("b"),
        col(textCol).cast("string").as("txt"),
        col(tsCol).as("ts"))
      .as[(String, Long, String, java.sql.Timestamp)]

    def fold(key: String,
        it: Iterator[(String, Long, String, java.sql.Timestamp)],
        state: GroupState[NovState]): Iterator[NoveltyRow] = {
      val prev = state.getOption.getOrElse(
        NovState(new Array[Byte](bloomBytes), Map.empty, Map.empty))
      val bloom = prev.bloom
      var bufN = prev.bufN
      var bufNov = prev.bufNov
      val wmSec = state.getCurrentWatermarkMs() / 1000L
      it.foreach { case (_, b, txt, _) =>
        // a row in a bucket the watermark already CLOSED must not
        // re-open it (that would emit a second (key, window_start)
        // row into the append sink). Spark's pre-operator late filter
        // normally drops such rows; this guard covers the one-batch
        // lag between that predicate and this fold's watermark view.
        // Grams still enter the bloom (history stays monotone).
        val closed = b + windowSeconds <= wmSec
        var n = 0L
        var nov = 0L
        grams(txt, gramN).foreach { g =>
          n += 1
          if (!seenAndInsert(bloom, g)) nov += 1
        }
        if (n > 0 && !closed) {
          bufN = bufN.updated(b, bufN.getOrElse(b, 0L) + n)
          bufNov = bufNov.updated(b, bufNov.getOrElse(b, 0L) + nov)
        }
      }
      val (done, open) = bufN.partition { case (b, _) =>
        b + windowSeconds <= wmSec }
      val out = done.toSeq.sortBy(_._1).map { case (b, n) =>
        val nov = bufNov.getOrElse(b, 0L)
        NoveltyRow(key, new java.sql.Timestamp(b * 1000L), n, nov,
          math.rint(nov.toDouble / n * 1e6) / 1e6)
      }
      state.update(NovState(bloom, open,
        bufNov.filter { case (b, _) => open.contains(b) }))
      open.keys.minOption.foreach(b =>
        state.setTimeoutTimestamp((b + windowSeconds) * 1000L))
      out.iterator
    }

    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(fold)
  }
}
