package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps._

/** Deterministic Lloyd's k-means over an embedding column, expressed
  * entirely in DataFrame operations — the IVF coarse quantizer trainer.
  *
  * Scale shape per iteration: centroids broadcast (k×dim, tiny) →
  * assignment is a map-side argmax (no shuffle of the big side beyond
  * the explode) → new centroids via (cluster, dim) partial-agg means.
  * Init is deterministic (ids ≡ 0 mod stride), so results are stable
  * run-to-run on any cluster size.
  */
object KMeans {

  /** The `keep` nearest centroids for a vector column, as an array of
    * struct(cos, c_id) ordered by cosine desc then c_id asc.
    *
    * Entirely map-side: centroids and their norms are plan-time
    * literals, the vector's norm is computed once, and the per-row work
    * is k fused dot products plus a k-element array sort. No crossJoin,
    * no window, no exchange — assignment cost at 100 TB is a scan, not
    * a cluster-wide shuffle of k× exploded rows.
    */
  def nearestCells(vec: Column, centroids: Seq[Seq[Double]], keep: Int): Column = {
    val vnorm = vecNorm(vec)
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val cnorm = math.sqrt(c.map(x => x * x).sum)
      struct((vecDot(vec, typedlit(c)) / (vnorm * lit(cnorm))).as("cos"),
        lit(i).as("c_id"))
    }
    slice(
      array_sort(array(scored: _*), (l, r) =>
        when(l("cos") > r("cos"), lit(-1)).when(l("cos") < r("cos"), lit(1))
          .when(l("c_id") < r("c_id"), lit(-1)).when(l("c_id") > r("c_id"), lit(1))
          .otherwise(lit(0))),
      1, keep)
  }

  /** Returns the trained centroids as a local k×dim structure (tiny by
    * construction: k centroids of `dim` doubles). */
  def fit(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): Seq[Seq[Double]] = {
    val n = df.count()
    val stride = math.max(n / k, 1L)
    val init = df
      .filter(col(idCol) % stride === 0)
      .orderBy(col(idCol)).limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
      .zipWithIndex.map { case (c, i) => (i, c) }
    // Lloyd scaffolding shared with emb03 (ops.Lloyd); this kernel:
    // cosine argmax assignment, exact DECIMAL mean (double avg is
    // merge-order-sensitive across partitions; decimal sums make
    // centroids bit-identical run-to-run), empty clusters keep their
    // previous centroid (k is a contract with the IVF index).
    Lloyd.iterate[Double](df, vecCol, init, iters,
      assignId = (vec, cs) =>
        element_at(nearestCells(vec, cs.map(_._2), 1), 1).getField("c_id"),
      meanExpr = (sum(col("v").cast(org.apache.spark.sql.types.DecimalType(28, 12)))
        .cast("double") / count(lit(1))),
      decode = _.getDouble(2),
      fillEmpty = true
    ).map(_._2)
  }
}
