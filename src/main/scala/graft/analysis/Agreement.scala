package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Inter-annotator / label-source agreement — the training-data QA
  * primitive behind "do my labelers (or my declared metadata and my
  * classifier) actually agree?": Cohen's kappa (Cohen 1960) corrects
  * raw agreement for the agreement two independent annotators would
  * reach by chance given their own label marginals, the correction
  * that stops a 95%-majority-class dataset from reporting 95%
  * "agreement" for free.
  *
  * Float-parity discipline: po and pe are ratios of EXACT integer
  * aggregates — kappa = (agree·n − S) / (n² − S) with
  * S = Σ_k nA_k·nB_k — so the whole statistic is integer math (in
  * decimal(38,0), the wrap-proof spelling) until one final double
  * division: bit-stable across partition orders and engines, no
  * float-sum ordering anywhere.
  */
object Agreement {

  /** One-row frame: `n` (double-labeled rows), `agree`, `po` (raw
    * agreement), `pe` (chance agreement from the marginals), `kappa`
    * (6dp; null when pe = 1 — both sources constant on one label, the
    * degenerate case where kappa is 0/0). Rows where either label is
    * null are dropped (no opinion ≠ an opinion).
    *
    * Scale shape: one hash aggregate collapses the corpus to the
    * (label_a, label_b) contingency table — vocabulary² cells at
    * most, map-side combined; each cell then splits into its A-side
    * and B-side label rows (a tagged explode), one label-keyed
    * aggregate gives both marginals, and a one-row aggregate over the
    * labels gives n, agree and S — one chain, so corpus rows shuffle
    * exactly once and nothing is cached. */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
      .groupBy("__a", "__b").agg(count(lit(1)).as("__c"))
    // a cell's agreement count rides its A-side row only, so the
    // label sums add up to the table's diagonal exactly once
    def side(label: String, na: Column, nb: Column, agree: Column) =
      struct(col(label).as("l"), na.as("na"), nb.as("nb"),
        agree.as("agree"))
    val dec = "decimal(38,0)"
    val marginals = cells
      .select(explode(array(
        side("__a", col("__c"), lit(0L),
          when(col("__a") === col("__b"), col("__c")).otherwise(0L)),
        side("__b", lit(0L), col("__c"), lit(0L)))).as("__s"))
      .groupBy(col("__s.l"))
      .agg(sum(col("__s.na")).as("__na"), sum(col("__s.nb")).as("__nb"),
        sum(col("__s.agree")).as("__ag"))
    // a label only one source uses has a zero marginal on the other
    // side, so only shared labels contribute to chance agreement
    marginals
      .agg(sum(col("__na")).cast(dec).as("n"),
        sum(col("__ag")).cast(dec).as("agree"),
        coalesce(sum(col("__na").cast(dec) * col("__nb")),
          lit(0).cast(dec)).as("__s"))
      .withColumn("__n2", col("n") * col("n"))
      .select(
        col("n").cast("long").as("n"),
        col("agree").cast("long").as("agree"),
        when(col("n") > 0, round(
          col("agree").cast("double") / col("n").cast("double"), 6))
          .as("po"),
        when(col("n") > 0, round(
          col("__s").cast("double") / col("__n2").cast("double"), 6))
          .as("pe"),
        when(col("n") > 0 && col("__n2") =!= col("__s"), round(
          (col("agree") * col("n") - col("__s")).cast("double") /
            (col("__n2") - col("__s")).cast("double"), 6))
          .as("kappa"))
  }
}
