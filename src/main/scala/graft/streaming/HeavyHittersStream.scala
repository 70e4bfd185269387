package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

/** Streaming SpaceSaving heavy hitters — the streaming twin of the
  * batch frequent-items pass (q84): per tumbling window, track
  * the `capacity` heaviest keys with the Metwally et al. 2005
  * SpaceSaving summary. An exact windowed groupBy-count would carry
  * state proportional to the window's DISTINCT keys — unbounded on a
  * high-cardinality stream (user ids, URLs); SpaceSaving pins state
  * to `capacity` counters per window with the classic guarantees:
  * every true count n_i > N/capacity is present, and each reported
  * count overestimates by at most its recorded `err`.
  *
  * Shape: one `flatMapGroupsWithState` keyed by WINDOW START — counts
  * fold into the in-state summary as batches arrive, and the window
  * EMITS (top `k` by count, ties broken by key) when the event-time
  * timeout fires after the watermark passes the window end. State per
  * window = `capacity` (key, count, err) triples, independent of
  * volume and cardinality.
  *
  * The per-event fold is the O(1)/O(log c) SpaceSaving shape: a hash
  * map resolves existing keys in O(1), and evictions pull the
  * deterministic minimum — (count asc, key desc), so the kept set is
  * partition-order stable — from an ordered index in O(log c). The
  * encoder-facing state stays the parallel-list encoding; the mutable
  * summary is rebuilt once per micro-batch invocation, not per event.
  *
  * When the window's distinct-key count never exceeds `capacity`, the
  * summary IS the exact count table (err = 0 for every key) — the
  * property the parity spec pins against a batch groupBy-count. */
object HeavyHittersStream {

  /** Per-window state: parallel key/count/err vectors (encoder-simple;
    * rebuilt into the indexed summary once per invocation). Public
    * because the state encoder is code-generated. */
  final case class SsState(keys: List[String], counts: List[Long],
      errs: List[Long], windowEnd: Long)

  final case class HitterRow(window_start: java.sql.Timestamp,
    key: String, cnt: Long, err: Long, rank: Int)

  /** Mutable SpaceSaving summary: slot arrays + key→slot hash map +
    * a TreeSet over slots ordered by (count asc, key desc) for O(log c)
    * deterministic-minimum eviction. TreeSet entries are removed
    * BEFORE their slot mutates and re-added after — the comparator
    * reads the live arrays. */
  private[streaming] final class Summary(capacity: Int) {
    private val keys = new mutable.ArrayBuffer[String](capacity)
    private val counts = new mutable.ArrayBuffer[Long](capacity)
    private val errs = new mutable.ArrayBuffer[Long](capacity)
    private val slot = new mutable.HashMap[String, Int]()
    private val order = new java.util.TreeSet[Integer](
      new java.util.Comparator[Integer] {
        def compare(a: Integer, b: Integer): Int = {
          val c = java.lang.Long.compare(counts(a), counts(b))
          if (c != 0) c
          else {
            // ties: LARGEST key is the eviction victim → sorts first
            val kc = keys(b).compareTo(keys(a))
            if (kc != 0) kc else Integer.compare(a, b)
          }
        }
      })

    def size: Int = keys.length

    def feed(key: String): Unit = slot.get(key) match {
      case Some(i) =>
        order.remove(Int.box(i))
        counts(i) += 1L
        order.add(Int.box(i))
      case None if keys.length < capacity =>
        val i = keys.length
        keys += key; counts += 1L; errs += 0L
        slot(key) = i
        order.add(Int.box(i))
      case None =>
        // evict the deterministic minimum; the newcomer inherits its
        // count as the overestimate bound
        val mi: Int = order.pollFirst()
        slot.remove(keys(mi))
        val base = counts(mi)
        keys(mi) = key
        counts(mi) = base + 1L
        errs(mi) = base
        slot(key) = mi
        order.add(Int.box(mi))
    }

    /** Append one slot verbatim (state decode — bypasses feed
      * semantics; counts/errs land as recorded). */
    private[streaming] def restore(key: String, count: Long,
        err: Long): Unit = {
      val i = keys.length
      keys += key; counts += count; errs += err
      slot(key) = i
      order.add(Int.box(i))
    }

    def toState(windowEnd: Long): SsState =
      SsState(keys.toList, counts.toList, errs.toList, windowEnd)
  }

  private[graft] object Summary {
    def fromState(st: SsState, capacity: Int): Summary = {
      val s = new Summary(capacity)
      st.keys.lazyZip(st.counts).lazyZip(st.errs).foreach {
        (k, c, e) => s.restore(k, c, e)
      }
      s
    }
  }

  /** Append-mode rows: per closed window, the top `k` summary entries
    * ordered by (count desc, key). Null stream keys count under the
    * "__null" sentinel (dropping them would silently shrink N). */
  def topK(stream: DataFrame, tsCol: String, keyCol: String,
      windowSeconds: Long, capacity: Int, k: Int,
      latenessSeconds: Long = 0L): Dataset[HitterRow] = {
    require(windowSeconds > 0, "window must be positive")
    require(capacity > 0 && k > 0, "capacity and k must be positive")
    require(k <= capacity, "k cannot exceed the summary capacity")
    val spark = stream.sparkSession
    import spark.implicits._
    // the ts column rides along so the watermark survives the
    // projection into flatMapGroupsWithState (the EwmaStream shape)
    val rows = stream
      .withWatermark(tsCol, s"$latenessSeconds seconds")
      .select(
        (floor(unix_timestamp(col(tsCol)) / windowSeconds) *
          windowSeconds).cast("long").as("w"),
        coalesce(col(keyCol).cast("string"), lit("__null")).as("k"),
        col(tsCol).as("ts"))
      .as[(Long, String, java.sql.Timestamp)]

    // emit sorts the state lists directly — no point rebuilding the
    // indexed summary (hash map + TreeSet) just to read it once
    def close(w: Long, st: SsState): Iterator[HitterRow] = {
      val keys = st.keys.toIndexedSeq
      val counts = st.counts.toIndexedSeq
      val errs = st.errs.toIndexedSeq
      keys.indices
        .sortBy(i => (-counts(i), keys(i)))
        .take(k).zipWithIndex
        .map { case (i, r) =>
          HitterRow(new java.sql.Timestamp(w * 1000L), keys(i),
            counts(i), errs(i), r + 1)
        }.iterator
    }

    rows.groupByKey(_._1)
      .flatMapGroupsWithState[SsState, HitterRow](OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        case (w, it, state: GroupState[SsState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            close(w, st)
          } else {
            val prior = state.getOption.getOrElse(
              SsState(Nil, Nil, Nil, (w + windowSeconds) * 1000L))
            val s = Summary.fromState(prior, capacity)
            it.foreach { case (_, key, _) => s.feed(key) }
            state.update(s.toState(prior.windowEnd))
            // fire once the watermark passes the window end
            state.setTimeoutTimestamp(prior.windowEnd)
            Iterator.empty
          }
      }
  }
}
