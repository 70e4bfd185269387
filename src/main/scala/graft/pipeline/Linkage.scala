package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked fuzzy record linkage — entity resolution by edit distance
  * without the all-pairs cross join (the blocking idea from
  * Fellegi–Sunter record-linkage practice): candidate pairs form only
  * WITHIN a cheap blocking key (normalized prefix), then the exact
  * Levenshtein threshold verifies each candidate. Near-duplicate
  * entity strings (author names, domains, product titles) are the
  * training-data use: metadata dedup where whole-document MinHash is
  * the wrong grain.
  *
  * Scale shape: one hash shuffle on the block key; pair formation is
  * per-block (quadratic ONLY within a block, which is why `maxBlock`
  * audits the hottest block loudly before the join runs — the same
  * refuse-then-raise contract as Dedup's containment guard); the
  * codegen'd `levenshtein` expression verifies candidates inline, so
  * nothing quadratic ever reaches a global shuffle.
  */
object Linkage {

  /** Normalized blocking key: first `prefixLen` chars of the
    * lowercased, whitespace-stripped string. */
  private def blockKey(c: Column, prefixLen: Int): Column =
    substring(regexp_replace(lower(c), "\\s+", ""), 1, prefixLen)

  /** Candidate pairs (id_a < id_b) whose names share a block and sit
    * within `maxDist` edits of each other CASE-INSENSITIVELY (edit
    * distance runs on the lowercased names — "Smith"/"smith" are the
    * same entity; the raw names ride along in the output):
    * (id_a, id_b, name_a, name_b, dist). Null/empty names never pair
    * (no evidence ≠ a match).
    *
    * The base cache the eager block audit reads stays persisted for
    * the returned frame and is released by the caller's
    * `spark.catalog.clearCache()` (the Dsir convention). */
  def linkPairs(df: DataFrame, idCol: String, nameCol: String,
      maxDist: Int = 3, prefixLen: Int = 4, maxBlock: Long = 10000L)
      : DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    require(prefixLen > 0, "prefixLen must be positive")
    // persisted: the hottest-block audit (which warms the cache) and
    // BOTH self-join sides read this frame — unpersisted, the
    // filter+normalize scan would run three times
    val base = df
      .filter(col(nameCol).isNotNull && length(col(nameCol)) > 0)
      .select(col(idCol).as("__id"), col(nameCol).as("__name"),
        blockKey(col(nameCol), prefixLen).as("__blk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hottest = base.groupBy("__blk").agg(count(lit(1)).as("__n"))
      .agg(max(col("__n"))).collect().head
    val hot = if (hottest.isNullAt(0)) 0L else hottest.getLong(0)
    if (hot > maxBlock) {
      base.unpersist(blocking = false)
      throw new IllegalArgumentException(
        s"linkPairs: hottest block has $hot rows > maxBlock = " +
          s"$maxBlock (~${hot * hot} candidate pairs) — lengthen " +
          "prefixLen, pre-filter, or raise maxBlock explicitly")
    }
    val a = base.select(col("__blk"), col("__id").as("id_a"),
      col("__name").as("name_a"))
    val b = base.select(col("__blk"), col("__id").as("id_b"),
      col("__name").as("name_b"))
    a.join(b, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist",
        levenshtein(lower(col("name_a")), lower(col("name_b"))))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "name_a", "name_b", "dist")
  }
}
