package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus snapshot diffing — the pipeline primitive behind "what
  * changed between crawl N and crawl N+1?": per id, classify
  * added / removed / changed / unchanged by comparing a content hash
  * across the two snapshots. Incremental training-data work (delta
  * dedup, re-embedding only changed docs, audit trails for a
  * filtered re-release) starts from exactly this frame.
  *
  * Content identity = md5 over the CONCATENATED PER-COLUMN md5s
  * (nulls marked by a fixed 32-char sentinel no hex digest can equal).
  * Fixed-width pieces make the encoding injection-proof by
  * construction: no character a column VALUE could carry can shift a
  * boundary, a null differs from every literal, and the spelling is
  * plain SQL an oracle replays.
  *
  * Scale shape: ONE full-outer join on the id — the hash collapses
  * each side's content columns map-side, so the join carries
  * (id, 32-byte hash), never the documents; persist both snapshots
  * through [[Curation.writeBucketed]] on the id and the join runs
  * exchange-free (the q143 co-location path).
  */
object Snapshots {

  /** Apply a changeset to a base snapshot — the other half of the
    * incremental-crawl story ([[snapshotDiff]] reads a delta; this
    * WRITES one): ops are `u` (upsert — insert new ids, replace
    * existing payloads) and `d` (delete). Any other op kills the job
    * loudly via `raise_error`, and a changeset carrying MORE THAN ONE
    * op for the same id is refused up front — a duplicated id would
    * fan the full-outer join into duplicate snapshot rows, the silent
    * corruption this operator exists to prevent.
    *
    * Scale shape: ONE full-outer join on the id (co-locatable via
    * [[Curation.writeBucketed]]); payloads project map-side; no
    * window, no second pass. */
  def applyChangeset(base: DataFrame, changes: DataFrame,
      idCol: String, opCol: String, payloadCols: Seq[String])
      : DataFrame = {
    val (b, c) = changesetSides(base, changes, idCol, opCol,
      payloadCols)
    mergeChangeset(b.join(c, Seq(idCol), "full_outer"), idCol,
      payloadCols)
  }

  /** [[applyChangeset]] through BUCKETED tables — the co-location
    * path the plain spelling only documents: both sides persist via
    * [[Curation.writeBucketed]] on the id (tables
    * `{namePrefix}_base` / `{namePrefix}_changes`) and the full-outer
    * payload join reads bucket pairs back with ZERO exchange and ZERO
    * sort (the q143 contract, pinned for this path in SnapshotsSpec).
    *
    * This is the shape a RECURRING snapshot pipeline wants at 100 TB:
    * the base snapshot is corpus-sized, so the plain join shuffles the
    * full payload every crawl; written bucketed ONCE, the base joins
    * every subsequent changeset — and [[snapshotDiff]], and any other
    * id-keyed consumer — exchange-free, and the APPLIED output can be
    * written straight back as the next round's bucketed base. The
    * merge hint is deliberate: at toy scale the optimizer would
    * broadcast the changeset, the plan bucketing exists to replace. */
  def applyChangesetBucketed(base: DataFrame, changes: DataFrame,
      idCol: String, opCol: String, payloadCols: Seq[String],
      namePrefix: String, buckets: Int): DataFrame = {
    val (b, c) = changesetSides(base, changes, idCol, opCol,
      payloadCols)
    Curation.writeBucketed(b, idCol, s"${namePrefix}_base", buckets)
    Curation.writeBucketed(c, idCol, s"${namePrefix}_changes", buckets)
    val spark = base.sparkSession
    mergeChangeset(
      spark.table(s"${namePrefix}_base")
        .join(spark.table(s"${namePrefix}_changes").hint("merge"),
          Seq(idCol), "full_outer"),
      idCol, payloadCols)
  }

  /** Audit + project the two changeset-join sides: base payloads as
    * `__b_*`, changeset as validated `__op` + `__c_*` payloads. Shared
    * by the plain and the bucketed apply, so both join the same sides. */
  private def changesetSides(base: DataFrame, changes: DataFrame,
      idCol: String, opCol: String, payloadCols: Seq[String])
      : (DataFrame, DataFrame) = {
    require(payloadCols.nonEmpty, "applyChangeset needs payload columns")
    // duplicate-id audit: one changes-sized aggregate (the delta is
    // small by contract; the snapshot never scans here)
    val dup = changes.groupBy(col(idCol))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1)
      .limit(1).collect()
    if (dup.nonEmpty)
      throw new IllegalArgumentException(
        s"applyChangeset: changeset has multiple ops for id " +
          s"${dup.head.get(0)} — resolve to one op per id first " +
          "(a duplicated id would emit duplicate snapshot rows)")
    val b = base.select(col(idCol) +:
      payloadCols.map(c => col(c).as(s"__b_$c")): _*)
    val op = when(col(opCol).isin("u", "d"), col(opCol))
      .otherwise(raise_error(concat(
        lit("applyChangeset: unknown op '"),
        coalesce(col(opCol).cast("string"), lit("NULL")),
        lit("' (expected u or d)"))))
    val c = changes.select(col(idCol) +: op.as("__op") +:
      payloadCols.map(cn => col(cn).as(s"__c_$cn")): _*)
    (b, c)
  }

  /** Fold the joined sides into the applied snapshot (deletes drop,
    * upserts take the changeset payload, untouched rows keep base). */
  private def mergeChangeset(joined: DataFrame, idCol: String,
      payloadCols: Seq[String]): DataFrame =
    joined
      .filter(col("__op").isNull || col("__op") =!= "d")
      .select(col(idCol) +: payloadCols.map(cn =>
        when(col("__op").isNotNull, col(s"__c_$cn"))
          .otherwise(col(s"__b_$cn")).as(cn)): _*)

  /** Per-id diff frame: id, `status` in added / removed / changed /
    * unchanged, and the two hashes (null on the absent side). Filter
    * `status != 'unchanged'` for the delta; the full frame is the
    * audit. */
  def snapshotDiff(prev: DataFrame, curr: DataFrame, idCol: String,
      hashCols: Seq[String]): DataFrame = {
    require(hashCols.nonEmpty, "snapshotDiff needs >= 1 content column")
    def hashed(df: DataFrame, out: String) = df.select(
      col(idCol),
      md5(concat(hashCols.map(c =>
        coalesce(md5(col(c).cast("string")), lit("!" * 32))): _*))
        .as(out))
    hashed(prev, "hash_prev")
      .join(hashed(curr, "hash_curr"), Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("hash_prev").isNull, "added")
          .when(col("hash_curr").isNull, "removed")
          .when(col("hash_prev") === col("hash_curr"), "unchanged")
          .otherwise("changed"))
      .select(col(idCol), col("status"), col("hash_prev"),
        col("hash_curr"))
  }
}
