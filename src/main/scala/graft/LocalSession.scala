package graft

import org.apache.spark.sql.SparkSession

/** One place for the tuned local-mode session config shared by every
  * entry point (Bench / Verify / Smoke / Explain / tests).
  *
  * Two settings here are load-bearing for single-JVM throughput, found by
  * thread-dumping a stalled first run:
  *
  *  - `spark.sql.artifact.isolation.enabled=false` — with session
  *    artifact isolation on (the 4.x default), executor-side whole-stage
  *    codegen compiles resolve speculative Janino class probes through an
  *    RPC-backed classloader (one blocking file-download round trip per
  *    miss) while every other task queues on the codegen cache KeyLock.
  *    First compile of each distinct generated class then costs seconds;
  *    across ~60 bench queries that multiplies into minutes. We ship no
  *    per-session artifacts, so isolation buys nothing here.
  *  - `spark.sql.icu.caseMappings.enabled=false` — the ICU-backed
  *    `lower()`/`upper()` path allocates ICU case-map machinery per call
  *    until JIT warms, ~10× the cost of the JVM fast path on our
  *    all-ASCII corpus, where the two are semantically identical (and
  *    identical to the DuckDB oracle's `lower`).
  *
  * Shuffle partitions are fixed to the core count: local[N] has exactly N
  * execution slots, so more partitions only add scheduling overhead while
  * fewer leave cores idle. The builder's values override `-Dspark.*`
  * system properties, so this one (like the master) changes only in code;
  * a cluster build would size it to executors × cores (SCALE.md).
  *
  * Generated classes are compiled once per JVM for every plan shape that
  * fits the codegen cache (`spark.sql.codegen.cache.maxEntries`, Spark's
  * default 100). Entries are keyed by source text and classloader, so the
  * driver and the executor side of one local stage are two entries. The
  * size is bounded by measurement from both sides:
  *
  *  - below, by plan shapes that do repeat: one perfbench batch run (its
  *    checking pass and its timed passes) compiles about 390–430 classes
  *    with an unbounded cache, so at 100 entries every class is evicted
  *    before its plan shape runs again and is compiled anew;
  *  - above, by traffic that never repeats, which fills any size: a
  *    relative-time dashboard (perfbench's ten tiles, the window moved by
  *    one minute on each refresh) compiles about 28 new classes per
  *    refresh. Once the cache is full each entry holds about 50 KB of live
  *    heap (its source text, its classloader's bytecode) and 14 KB of
  *    metaspace. After 140 such refreshes on two clients, live heap read
  *    115 MB with Spark's defaults (cache 100, full status history), 108 MB
  *    at 512 entries and 182 MB at 2048; metaspace read 169, 175 and
  *    196 MB.
  *
  * 512 is the one power of two between the two bounds; full, it holds
  * about 512 × 50 KB ≈ 25 MB of heap and 7 MB of metaspace. The cache is a
  * field of Spark's JVM-wide `CodeGenerator` object, sized once by the
  * first session that generates code; a later session's value is
  * ignored, so the setting lives here, in the one builder every entry
  * point, perfbench and the tests go through, and nowhere else.
  *
  * The kept classes are paid for by Spark's status history, which keeps
  * up to 1,000 stages and 1,000 SQL executions (with their plan graphs)
  * for a UI that is disabled here; nothing in the engine reads it (no
  * `statusTracker` or `statusStore` use). One perfbench batch run per
  * setting, 50 entries each: the stage cap freed about 2.5 MB of live
  * heap, the SQL execution cap about 2.0 MB, the two together 6.2 MB;
  * capping jobs or tasks per stage moved nothing, so those keep Spark's
  * defaults. A long-running server fills the history: in the dashboard
  * loop above, at 100 cache entries, the two caps took live heap from
  * 115 to 87 MB.
  *
  * Settings the builder does not fix can be passed as `-Dspark.*` system
  * properties, which `SparkConf` loads.
  */
object LocalSession {
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      // trust the per-bucket sort order Curation.writeBucketed lays
      // down (one file per bucket by construction): without this the
      // scan hides its ordering (SPARK-28632 default) and every
      // co-bucketed sort-merge join re-sorts what's already sorted.
      // Safe because the writer repartitions to exactly one file per
      // bucket — the multi-file case the default guards against can't
      // occur through writeBucketed.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // FAIR job scheduling — the serving posture: a dashboard fans out
      // ~10 chart queries at once (Server runs them from a request pool,
      // Bench measures the same shape in its concurrent section), and
      // FIFO would let one heavy query's stages starve the others'
      // first-result latency. Pools are created on demand (one per
      // concurrent request; fair ACROSS pools, weight 1 each). With a
      // single job in flight — every sequential bench/verify/test path —
      // scheduling is identical to FIFO, so this costs nothing there.
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", 512)
      .config("spark.ui.retainedStages", 50)
      .config("spark.sql.ui.retainedExecutions", 50)

  def get(cores: Int): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
