package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Tokens

/** Byte-pair-encoding vocabulary induction — the tokenizer-training step
  * of a pretraining data pipeline (Sennrich et al. 2016, the algorithm
  * behind GPT-2/RoBERTa/sentencepiece vocabularies).
  *
  * Scale shape: classic BPE never iterates over the corpus — it iterates
  * over the WORD-FREQUENCY DICTIONARY, which is tiny relative to the
  * corpus (Heaps' law; minCount pruning bounds it further). So the split
  * is: one distributed word-count shuffle over the corpus
  * ([[wordFrequencies]], the only data-volume stage, oracle-gated), a
  * driver-side merge loop over the compact dict ([[train]] — the same
  * architecture sentencepiece/HF tokenizers use), and a broadcast-ranks
  * imperative kernel to re-segment the corpus ([[segmentFrame]]). A
  * 100-TB corpus changes only stage 1's input size; the dict the loop
  * sees is capped by `maxWords` with a loud `require`, never O(corpus).
  */
object Bpe {

  /** End-of-word marker symbol (Sennrich's `</w>`): keeps a word-final
    * "est" distinct from a word-internal one, and lets segmentation
    * reconstruct word boundaries. */
  val EndOfWord = "</w>"

  /** Distributed word-frequency dictionary: (word, freq), whitespace
    * tokenization lowercased — ONE map-side-combined hash shuffle over
    * the corpus, pruned by `minCount` before anything is collected.
    * This is the only stage whose cost scales with corpus size. */
  def wordFrequencies(df: DataFrame, textCol: String,
      minCount: Long = 1L): DataFrame =
    df.select(explode(split(trim(lower(col(textCol))), "\\s+"))
        .as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minCount)

  /** Collect the dict for the driver-side loop, largest-frequency first
    * with a lexicographic tiebreak (deterministic under any partition
    * order). `maxWords` is the driver-memory contract: the require fails
    * loudly instead of silently truncating a dict that minCount left too
    * large. */
  def collectFrequencies(freqs: DataFrame, maxWords: Int = 1000000)
      : Seq[(String, Long)] = {
    val spark = freqs.sparkSession
    import spark.implicits._
    val n = freqs.count()
    require(n <= maxWords,
      s"word dict has $n entries > maxWords=$maxWords; raise minCount " +
        "(driver-side BPE loop needs the dict in memory)")
    freqs.select(col("word").cast("string"), col("freq").cast("long"))
      .as[(String, Long)].collect()
      .sortBy { case (w, f) => (-f, w) }.toSeq
  }

  /** Learn `numMerges` merges over a word-frequency dict. Each word
    * starts as its characters plus [[EndOfWord]]; every round merges the
    * most frequent adjacent symbol pair (count weighted by word freq,
    * ties broken by smallest pair lexicographically — fully
    * deterministic). Stops early when no pair repeats. Returns merges in
    * learned order: earlier = higher priority at segmentation time.
    *
    * O(numMerges × dictSymbols) — dict-sized, driver-side by design (see
    * the object doc); the corpus is never touched here. */
  def train(freq: Seq[(String, Long)], numMerges: Int)
      : Seq[(String, String)] = {
    var words: Array[(Array[String], Long)] = freq.map { case (w, f) =>
      ((w.map(_.toString) :+ EndOfWord).toArray, f)
    }.toArray
    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    var done = false
    while (round < numMerges && !done) {
      val counts = new java.util.HashMap[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          counts.merge((syms(i), syms(i + 1)), f, Long.box(_) + _)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        var best: (String, String) = null
        var bestN = Long.MinValue
        counts.forEach { (p, n) =>
          if (n > bestN || (n == bestN && pairLt(p, best))) {
            best = p; bestN = n
          }
        }
        if (bestN < 2) done = true // nothing repeats — no point merging
        else {
          merges += best
          words = words.map { case (syms, f) => (mergePair(syms, best), f) }
          round += 1
        }
      }
    }
    merges.result()
  }

  private def pairLt(a: (String, String), b: (String, String)): Boolean =
    a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)

  private def mergePair(syms: Array[String],
      pair: (String, String)): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == pair._1 &&
          syms(i + 1) == pair._2) {
        out += syms(i) + syms(i + 1); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Segment one word (no [[EndOfWord]]; appended internally) with the
    * learned merges applied in training order. The trailing marker is
    * stripped from the final token. */
  def segmentWord(word: String, ranks: Map[(String, String), Int])
      : Seq[String] = {
    var syms = (word.map(_.toString) :+ EndOfWord).toArray
    var more = syms.length > 1
    while (more) {
      var bestRank = Int.MaxValue
      var at = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; at = i }
        i += 1
      }
      if (at < 0) more = false
      else {
        syms = mergePair(syms, (syms(at), syms(at + 1)))
        if (syms.length < 2) more = false
      }
    }
    syms.toSeq.map(s => s.stripSuffix(EndOfWord)).filter(_.nonEmpty)
  }

  /** (id, n_words, n_bpe_tokens) per document under a learned merge
    * list: the ranks map is built once per PARTITION from the broadcast
    * merge list (driver-KB payload), each row tokenized imperatively in
    * one pass — no per-row closure capture, no corpus-side shuffle
    * beyond the scan. Ids must be integral (cast to long). */
  def segmentFrame(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.toArray)
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ranks = bc.value.iterator.zipWithIndex.toMap
        it.map { case (id, text) =>
          val words = Tokens.lowered(text).filter(_.nonEmpty)
          var nTok = 0L
          words.foreach(w => nTok += segmentWord(w, ranks).length)
          (id, words.length.toLong, nTok)
        }
      }
      .toDF(idCol, "n_words", "n_bpe_tokens")
  }
}
