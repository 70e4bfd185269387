package graft.analysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.Dedup

/** Forest resolution — root and depth per node of a parent-pointer
  * hierarchy (trace span trees assembled from ParentSpanId links are the
  * reference's shape: the trace detail page rebuilds the span tree from
  * `ParentSpanId` rows, packages/app/src/components/... via
  * otel_traces' ParentSpanId column, 00002_otel_traces.sql).
  *
  * A recursive CTE walks one edge per iteration — O(depth) sequential
  * rounds, each a full self-join. This implementation uses POINTER
  * DOUBLING instead: every node keeps a pointer `ptr` plus the distance
  * travelled so far, and each round replaces `ptr` with `ptr`'s own
  * pointer (compressing 2^k edges into one hop by round k) — O(log
  * depth) rounds total, each one hash join on the node set. A
  * 100-TB trace store with million-span traces resolves in ~20 rounds
  * where the naive walk needs a million.
  *
  * Checkpointing mirrors [[graft.pipeline.Dedup.connectedComponents]]:
  * eager per-round snapshots cut the exponentially-nesting join lineage;
  * with `sc.setCheckpointDir` configured the snapshots are reliable
  * (survive executor loss), otherwise executor-local.
  */
object Hierarchy {

  /** Resolve a forest: input one row per node with `idCol` and
    * `parentCol` (null parent ⇒ root; a parent id that never appears as
    * a node id is treated as a root boundary the same way). Output:
    * (id, root, depth) for EVERY input node — root = the id of the
    * tree's root, depth = edge count from the node to it (0 for roots).
    *
    * Cycles (malformed data: a span chain that loops) can never resolve;
    * after `maxRounds` doublings — enough for depth 2^maxRounds — any
    * still-unresolved node fails the call loudly rather than returning a
    * silently-partial frame. */
  def resolve(nodes: DataFrame, idCol: String = "id",
      parentCol: String = "parent", maxRounds: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel

    val ids = nodes
      .select(col(idCol).cast("long").as("id"),
        col(parentCol).cast("long").as("__p"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // a parent pointing outside the node set ends the walk there: treat
    // the referencing node as a root of its (truncated) subtree — the
    // observability shape, where a span's parent may be unsampled
    val known = ids.select(col("id").as("__kid"))
    val start = ids
      .join(known, col("__p") === col("__kid"), "left")
      .select(col("id"),
        when(col("__kid").isNull, lit(null).cast("long"))
          .otherwise(col("__p")).as("ptr"),
        when(col("__kid").isNull, col("id")).otherwise(lit(null))
          .cast("long").as("root"),
        when(col("__kid").isNull, lit(0L)).otherwise(lit(1L)).as("dist"))

    val reliable =
      nodes.sparkSession.sparkContext.getCheckpointDir.isDefined
    def snap(d: DataFrame): DataFrame =
      if (reliable) d.checkpoint(eager = true) else d.localCheckpoint(true)

    var state = snap(start)
    var round = 0
    var unresolved = state.filter(col("root").isNull).count()
    while (unresolved > 0 && round < maxRounds) {
      // ptr's own state: one hash join on id; resolved targets hand over
      // their final root (+ depth), unresolved ones their doubled pointer
      val target = state.select(col("id").as("__tid"),
        col("ptr").as("__tptr"), col("root").as("__troot"),
        col("dist").as("__tdist"))
      val stepped = snap(state
        .join(target, col("ptr") === col("__tid"), "left")
        .select(col("id"),
          when(col("root").isNotNull, col("ptr"))
            .when(col("__troot").isNotNull, lit(null).cast("long"))
            .otherwise(col("__tptr")).as("ptr"),
          when(col("root").isNotNull, col("root"))
            .when(col("__troot").isNotNull, col("__troot"))
            .otherwise(lit(null).cast("long")).as("root"),
          when(col("root").isNotNull, col("dist"))
            .otherwise(col("dist") + coalesce(col("__tdist"), lit(0L)))
            .as("dist")))
      Dedup.checkpointRdd(state).foreach(_.unpersist(blocking = false))
      state = stepped
      unresolved = state.filter(col("root").isNull).count()
      round += 1
    }
    ids.unpersist()
    if (unresolved > 0)
      throw new IllegalStateException(
        s"Hierarchy.resolve: $unresolved nodes unresolved after " +
          s"$maxRounds doubling rounds — cycle in the parent pointers " +
          s"or depth beyond 2^$maxRounds")
    state.select(col("id"), col("root"), col("dist").as("depth"))
  }
}
