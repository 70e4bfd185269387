package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-filter prefiltered decontamination.
  *
  * [[Curation.decontaminated]] broadcasts the benchmark's distinct
  * n-gram STRINGS and semi-joins the corpus grams against them. At
  * 100 TB that broadcast is the bottleneck: a large eval suite holds
  * ~10⁷–10⁸ distinct 13-grams ≈ gigabytes of strings, which every
  * executor must hold. A Bloom filter at ~12 bits/gram is 50–100×
  * smaller (10⁸ grams ≈ 150 MB of bitmap) with a ~0.1% false-positive
  * rate — and because decontamination CONFIRMS candidates with the
  * exact join afterward, the bloom changes only the work, never the
  * answer: false positives cost one extra exact-join row each, false
  * negatives don't exist.
  *
  * The filter is built driver-side from the benchmark's gram hashes
  * (the benchmark is the small side by contract — same assumption the
  * exact broadcast already makes) and ships to executors as one
  * literal long-array. Membership is a pure expression: k double-hashed
  * probes (Kirsch–Mitzenmacher: pos_i = h1 + i·h2 mod m, from TWO
  * xxhash64 values computed identically at build and probe time), each
  * probe one `element_at` + bit test — codegen-friendly, no UDF.
  *
  * Scale shape: corpus grams stream through the scan, the bloom test
  * drops ~all clean grams map-side, and only candidate-doc grams reach
  * the exact semi-join shuffle — the shuffle shrinks from all-grams to
  * (contaminated + ε) grams while the result stays bit-identical to
  * [[Curation.contaminationHits]].
  */
object Bloom {

  /** Bit positions of one (h1, h2) key in an m-bit filter —
    * Kirsch–Mitzenmacher double hashing. Shared by the driver-side
    * builder and (inlined as expressions) the probe, so both walk the
    * same arithmetic: Java and Spark longs overflow identically and
    * `pmod` matches `((x % m) + m) % m`. */
  private def positions(h1: Long, h2: Long, numHashes: Int,
      mBits: Long): Seq[Long] =
    (0 until numHashes).map { i =>
      val x = h1 + i.toLong * h2
      ((x % mBits) + mBits) % mBits
    }

  /** Build the bitmap from (h1, h2) hash pairs. `bitsPerKey`=12 with
    * 5 hashes ≈ 0.3% false positives. */
  private[pipeline] def buildBits(hashes: Array[(Long, Long)],
      bitsPerKey: Int, numHashes: Int): Array[Long] = {
    val mBits = math.max(64L, hashes.length.toLong * bitsPerKey)
    val words = new Array[Long](((mBits + 63) / 64).toInt)
    hashes.foreach { case (h1, h2) =>
      positions(h1, h2, numHashes, words.length.toLong * 64).foreach {
        p => words((p / 64).toInt) |= (1L << (p % 64)) }
    }
    words
  }

  /** Bitmaps up to this many longs (8 MB) ship as plan literals —
    * codegen'd bit tests, zero driver bookkeeping. Above it the plan
    * would carry the array through every copy/canonicalize/toString,
    * so the big-filter path (the module's 150 MB-at-10⁸-grams design
    * point) rides a broadcast variable instead. */
  private[pipeline] val literalMaxWords: Int = 1 << 20

  /** Membership test: AND of k double-hashed bit probes. `h1`/`h2`
    * must be the same xxhash64 spellings the builder used. Small
    * bitmaps inline as a literal (pure codegen'd expressions); large
    * ones ship ONCE per executor as a broadcast variable probed by a
    * deterministic UDF walking the identical arithmetic. The UDF
    * captures that broadcast, so it lives as long as a plan that
    * holds the column: Spark's `ContextCleaner` frees it once the
    * plan is unreachable, and nothing here destroys it. */
  private[pipeline] def mightContain(df: DataFrame,
      bits: Array[Long], h1: Column, h2: Column, numHashes: Int,
      maxLiteralWords: Int = literalMaxWords): Column = {
    val mBits = bits.length.toLong * 64
    if (bits.length <= maxLiteralWords) {
      val bitsLit = lit(bits)
      (0 until numHashes).map { i =>
        val p = pmod(h1 + lit(i.toLong) * h2, lit(mBits))
        // functions.shiftleft only takes a static shift; the SQL
        // spelling accepts a column
        val mask = call_function("shiftleft", lit(1L), (p % 64).cast("int"))
        (element_at(bitsLit, (p / 64).cast("int") + 1)
          .bitwiseAND(mask)) =!= 0L
      }.reduce(_ && _)
    } else {
      val bc = df.sparkSession.sparkContext.broadcast(bits)
      val k = numHashes
      val probe = udf { (a: Long, b: Long) =>
        val words = bc.value
        var i = 0
        var ok = true
        while (ok && i < k) {
          val x = a + i.toLong * b
          val p = ((x % mBits) + mBits) % mBits
          ok = (words((p >> 6).toInt) & (1L << (p & 63))) != 0L
          i += 1
        }
        ok
      }
      probe(h1, h2)
    }
  }

  private def gramHashes(g: Column): (Column, Column) =
    (xxhash64(g), xxhash64(g, lit(1L)))

  /** Distinct bench grams [[benchHashPairs]] collects at most — the
    * [[Curation.contaminationHits]] gram cap (8 Mi grams, 128 MB of
    * hash pairs). */
  private val MaxBenchGrams: Int = 1 << 23

  /** The (h1, h2) pairs of the distinct bench grams in `benchGrams`
    * (column `__g`), collected to build the filter. Hashes are
    * computed IN Spark so builder and probe share the exact xxhash64;
    * the collect is the small-side contract the exact broadcast makes,
    * of 16-byte pairs instead of gram strings. A bounded count job
    * runs first, so a corpus-sized bench fails with the contract
    * message instead of filling the driver. */
  private[pipeline] def benchHashPairs(benchGrams: DataFrame,
      maxGrams: Int): Array[(Long, Long)] = {
    require(benchGrams.limit(maxGrams + 1).count() <= maxGrams,
      s"bloom bench produced more than $maxGrams distinct grams — " +
        "eval sets are small by contract; split the sweep")
    val (h1, h2) = gramHashes(col("__g"))
    benchGrams.select(h1.as("h1"), h2.as("h2"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
  }

  /** [[Curation.contaminationHits]] with the bloom prefilter: same
    * output frame (doc_id, n_hits over distinct contaminated grams),
    * bit-identical result, candidate-pruned exact join. */
  def bloomContaminationHits(docs: DataFrame, idCol: String,
      textCol: String, bench: DataFrame, benchTextCol: String,
      n: Int = 13, bitsPerKey: Int = 12, numHashes: Int = 5)
      : DataFrame = {
    val benchGrams = bench
      .select(explode(Dedup.shingles(col(benchTextCol), n)).as("__g"))
      .distinct()
    val bits = buildBits(benchHashPairs(benchGrams, MaxBenchGrams),
      bitsPerKey, numHashes)
    val corpusGrams = Curation.distinctGramFrame(docs, idCol, textCol, n)
    val (ch1, ch2) = gramHashes(col("__g"))
    val candidates = corpusGrams.filter(
      mightContain(docs, bits, ch1, ch2, numHashes))
    // exact confirm: bloom false positives die here
    candidates
      .join(broadcast(benchGrams), Seq("__g"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** The corpus with every bloom-confirmed contaminated document
    * removed — [[Curation.decontaminated]]'s twin on the bloom path. */
  def bloomDecontaminated(docs: DataFrame, idCol: String,
      textCol: String, bench: DataFrame, benchTextCol: String,
      n: Int = 13, bitsPerKey: Int = 12, numHashes: Int = 5)
      : DataFrame =
    docs.join(
      bloomContaminationHits(docs, idCol, textCol, bench, benchTextCol,
        n, bitsPerKey, numHashes).select(col(idCol)),
      Seq(idCol), "left_anti")
}
