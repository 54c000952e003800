package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by min-label propagation with pointer
  * jumping — the canonicalization step of every near-dup dedup pipeline
  * (training-data dedup must pick ONE survivor per transitive cluster,
  * not drop arbitrary pair losers).
  *
  * Reference semantics: the transitive closure the reference would take
  * over its duplicate pairs; re-expressed as the standard distributed
  * label-propagation algorithm (cf. the large-star/small-star family,
  * Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) rather than a recursive CTE.
  *
  * Scale design, all DataFrame ops:
  * - each round is join + aggregate + self-join — shuffles on the label
  *   key, no driver-side graph state;
  * - pointer jumping (root := root's root) halves label-chain depth per
  *   round, so convergence is O(log diameter), not O(diameter) — pinned
  *   by ConnectedComponentsSpec on a worst-case path graph and
  *   measured at scale in SURVEY.md;
  * - per-round lazy localCheckpoint truncates lineage to a materialized
  *   leaf (flat memory and plan depth across rounds); superseded rounds'
  *   blocks unpersist deterministically, and [[labels]] frees the loop
  *   scaffolding once the result frame is cached and materialized
  *   (async-ContextCleaner debt made bench timings of unrelated queries
  *   nondeterministic, round 7).
  *
  * The returned frame is cached + materialized; its recompute leaf is the
  * final round's checkpoint blocks, which stay alive until the returned
  * release() runs (bundle it with the result's lifecycle — Memo eviction
  * in the q_dedup_clusters path), so a cache-evicted re-access recomputes
  * instead of failing on a missing checkpoint block.
  */
object ConnectedComponents {

  /** (node, root) labels for every node appearing in `pairs` (doc1, doc2);
    * root = min node id of the component. Returns (labels, iterations,
    * release): the labels frame is cached + materialized but its lineage
    * still leads to the final round's localCheckpoint blocks, so those
    * stay ALIVE until `release()` — a caller that unpersisted them
    * immediately (the pre-r08 shape) left any later cache-evicted
    * re-access to die with an opaque "checkpoint block not found" instead
    * of recomputing. Call `release()` when every frame derived from the
    * labels is itself materialized-or-done (e.g. at Memo eviction).
    */
  def labels(pairs: DataFrame, maxIter: Int = 20): (DataFrame, Int, () => Unit) = {
    val edges = pairs
      .select(col("doc1"), col("doc2"))
      .union(pairs.select(col("doc2").as("doc1"), col("doc1").as("doc2")))
      .cache()
    val labels0 = edges.select(col("doc1").as("doc_id")).distinct()
      .withColumn("root", col("doc_id")).cache()
    var cur = labels0
    var changed = 1L
    var iter = 0
    def ckptRdd(df: DataFrame) = df.queryExecution.logical.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.headOption
    var prevCkpt: Option[org.apache.spark.rdd.RDD[_]] = None
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges.join(cur, col("doc2") === col("doc_id"))
        .groupBy(col("doc1")).agg(min(col("root")).as("nbr_root"))
      val prop = cur.select(col("doc_id"), col("root").as("old"))
        .join(nbrMin, col("doc_id") === col("doc1"), "left")
        .select(col("doc_id"), col("old"),
          least(col("old"), coalesce(col("nbr_root"), col("old"))).as("p_root"))
      // pointer jumping: root := root's root — halves label-chain depth
      val nextBase = prop.as("x")
        .join(prop.select(col("doc_id").as("r_id"), col("p_root").as("r_root")).as("y"),
          col("x.p_root") === col("y.r_id"), "left")
        .select(col("x.doc_id"), col("x.old"),
          coalesce(col("y.r_root"), col("x.p_root")).as("root"))
      // lazy localCheckpoint: the convergence count below materializes it,
      // truncating this round's plan to a leaf — lineage never deepens
      val next = nextBase.localCheckpoint(eager = false)
      changed = next.filter(col("root") =!= col("old")).count()
      prevCkpt.foreach(_.unpersist(blocking = false))
      prevCkpt = ckptRdd(next)
      cur = next.select("doc_id", "root")
      iter += 1
    }
    val result = cur.cache()
    // materialize the (component-scale, not corpus-scale) result NOW,
    // then free the loop scaffolding deterministically — EXCEPT the final
    // round's checkpoint blocks, which remain the result's recompute leaf
    // and are freed by the returned release() at end-of-lifecycle
    result.count()
    labels0.unpersist(blocking = false)
    edges.unpersist(blocking = false)
    val finalCkpt = prevCkpt
    val release = () => {
      result.unpersist(blocking = false)
      finalCkpt.foreach(_.unpersist(blocking = false))
    }
    (result, iter, release)
  }
}
