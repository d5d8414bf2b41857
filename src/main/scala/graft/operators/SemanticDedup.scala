package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.CacheRegistry.TrackedPersist

/** Cluster-scoped embedding dedup — the SemDeDup pattern (Abbas et
  * al., "SemDeDup: Data-efficient learning at web-scale through
  * semantic deduplication", 2023): k-means the embedding corpus,
  * then search for near-duplicate pairs ONLY inside each cluster,
  * keeping one representative per duplicate pair.
  *
  * This is the scale path between the exact all-pairs join (q25 —
  * O(n^2), inherent) and random-hyperplane LSH (q26 — recall depends
  * on band luck): the cluster assignment costs one narrow pass
  * (reusing [[AnnIvf]]'s centroid build + assignment), and the
  * quadratic pair search collapses to O(sum cell_i^2). In the
  * published setting k grows with n so cell sizes stay bounded and
  * the whole pass is linear-ish; misses are exactly the near-dup
  * pairs whose members land in different cells (same recall trade as
  * IVF search with nProbe=1).
  *
  * Determinism: centroids come from [[AnnIvf.centroidsNormed]]'s
  * hash-sampled seeds + fixed Lloyd rounds, ties in assignment break
  * toward the higher centroid id, and the drop rule is "drop the
  * HIGHER vector id of each pair" — so the output is a pure function
  * of the input, testable without any RNG pinning.
  *
  * Scale shape: the within-cell self-join shuffles both sides on
  * `centroid_id` (the cells are the shuffle partitions — at cluster
  * scale each cell's pair search runs where its vectors already
  * live), carries normalized vectors once, and the pair filter is the
  * codegen'd native dot product. The corpus is normalized ONCE and
  * persisted across the centroid build + assignment (the q34 lesson).
  */
object SemanticDedup {

  /** Vector ids to DROP: the higher id of every within-cell pair with
    * cosine >= tau.
    *
    * @return (centroid_id, drop_id) — distinct; a vector dropped by
    *         several pairs appears once
    */
  def drops(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      tau: Double,
      refineIters: Int = 2): DataFrame = {
    val normed = AnnIvf.normalized(df, idCol, vecCol)
      .persistTracked()
    val index = AnnIvf.assignNormed(
      normed, AnnIvf.centroidsNormed(normed, nCentroids, refineIters))
    val right = index.select(
      col("centroid_id"), col("id").as("id2"), col("nv").as("nv2"))
    val out = index.join(right, "centroid_id")
      .filter(col("id") < col("id2"))
      .filter(graft.expr.VectorExpressions.dot(col("nv"), col("nv2")) >= tau)
      .select(col("centroid_id"), col("id2").as("drop_id"))
      .distinct()
    // The centroid build already materialized `normed` eagerly (its
    // consumers collect), so the cached blocks exist by the time the
    // caller's action runs the self-join; release after the plan is
    // assembled is unsafe (lazy consumers), so the persist is
    // registered with CacheRegistry — the caller releases it after
    // its terminal action, exactly as Dedup's scaladoc documents.
    out
  }

  /** Judged summary: per cell, corpus size and how many vectors the
    * tau near-dup rule drops. One row per centroid (empty cells
    * included — their seed survives with n_vecs counted at assignment
    * time).
    */
  def summary(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      tau: Double): DataFrame = {
    val normed = AnnIvf.normalized(df, idCol, vecCol)
      .persistTracked()
    val cents = AnnIvf.centroidsNormed(normed, nCentroids)
    // r14 measured-and-rejected: materializing the index cache with a
    // count() so the planner sees true stats (the q326 pattern, aiming
    // to flip the within-cell self-join to a BHJ below the broadcast
    // threshold) read FLAT-to-worse in same-session colds (1.25-1.52 →
    // 1.43-1.68 s with the q359 control drifting the same direction) —
    // the extra job costs what the flip saves at this SF, and at real
    // corpus sizes the SMJ is the designed shape anyway. Reverted.
    val index = AnnIvf.assignNormed(normed, cents)
      .persistTracked()
    val right = index.select(
      col("centroid_id"), col("id").as("id2"), col("nv").as("nv2"))
    val dropped = index.join(right, "centroid_id")
      .filter(col("id") < col("id2"))
      .filter(graft.expr.VectorExpressions.dot(col("nv"), col("nv2")) >= tau)
      .select(col("centroid_id"), col("id2").as("drop_id"))
      .distinct()
      .groupBy("centroid_id").agg(count(lit(1)).as("n_dropped"))
    index.groupBy("centroid_id").agg(count(lit(1)).as("n_vecs"))
      .join(dropped, Seq("centroid_id"), "left")
      .select(col("centroid_id"), col("n_vecs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
      .orderBy("centroid_id")
  }
}
