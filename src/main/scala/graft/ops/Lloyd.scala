package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The one Lloyd iteration skeleton, shared by the integer-exact
  * clustering (Similarity's `int8LloydTrain`: emb03 and the IVF coarse
  * quantizer) and, in its keyed form, the product-quantization trainer.
  *
  * Scale shape per round:
  *   - assignment is MAP-ONLY: the centroids are in-plan literals
  *     (k×dim, tiny by construction) and `assignId` computes the argmin
  *     per row — no crossJoin, no exploded k× rows, no shuffle;
  *   - the mean step is one posexplode + partial-aggregated
  *     groupBy(cluster, dim) whose output is k×dim CELLS — the only
  *     shuffle, and the only collect (bounded by k×dim, never by data).
  *
  * Centroids carry explicit ids (cid, vector): a cluster left empty by
  * a round is DROPPED, so the ids that remain need not be dense (the
  * integer query's oracle replays exactly that).
  */
object Lloyd {

  /** One assign→mean round, `rounds` times.
    *
    * @param assignId (vecCol, centroids) => Int cluster-id column; must
    *                 be a pure map-side expression over in-plan literals
    * @param meanExpr aggregate expression over the exploded value column
    *                 `v` producing the per-(cluster, dim) mean cell `m`
    * @param decode   reads the mean cell from the (c_id, dim, m) row
    */
  def iterate[T](df: DataFrame, vecCol: String,
      init: Seq[(Int, Seq[T])], rounds: Int,
      assignId: (Column, Seq[(Int, Seq[T])]) => Column,
      meanExpr: Column, decode: Row => T): Seq[(Int, Seq[T])] = {
    var cs = init
    for (_ <- 1 to rounds) {
      val cells = df
        .select(assignId(col(vecCol), cs).as("c_id"), col(vecCol))
        .select(col("c_id"), posexplode(col(vecCol)))
        .toDF("c_id", "dim", "v")
        .groupBy(col("c_id"), col("dim"))
        .agg(meanExpr.as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          cid -> rows.toSeq.sortBy(_.getInt(1)).map(decode)
        }
      cs = cells.toSeq.sortBy(_._1)
    }
    cs
  }

  /** The KEYED variant: M independent codebooks refined in ONE pass per
    * round — the product-quantization trainer (ss09). Subspace m covers
    * vector positions [m·subD, (m+1)·subD); `assignCodes` returns all M
    * cluster ids per row in one fused expression (functions.PqEncode),
    * and the mean step is a single explode + (m, cluster, dim) partial
    * agg — ONE shuffle and ONE bounded collect for all M books, where M
    * separate `iterate` calls would run 2·M jobs (measured: ~10s → ~1s
    * for ss09's 32-book build at sf0.1). Empty clusters drop, as in
    * `iterate` (PQ codebooks are value sets, not contracts). `decode`
    * reads the mean cell from the (m, c_id, dim, m-value) row. */
  def iterateKeyed[T](df: DataFrame, vecCol: String,
      init: Seq[Seq[(Int, Seq[T])]], rounds: Int, subD: Int,
      assignCodes: (Column, Seq[Seq[(Int, Seq[T])]]) => Column,
      meanExpr: Column, decode: Row => T): Seq[Seq[(Int, Seq[T])]] = {
    var books = init
    for (_ <- 1 to rounds) {
      val cells = df
        .select(assignCodes(col(vecCol), books).as("codes"), col(vecCol))
        .select(col("codes"), posexplode(col(vecCol)))
        .select(expr(s"pos div $subD").cast("int").as("m"),
          element_at(col("codes"), expr(s"pos div $subD").cast("int") + 1)
            .as("c_id"),
          (col("pos") % subD).cast("int").as("i"),
          col("col").as("v"))
        .groupBy(col("m"), col("c_id"), col("i"))
        .agg(meanExpr.as("mval"))
        .collect()
      books = cells.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        .map { case (_, rows) =>
          rows.groupBy(_.getInt(1)).toSeq.sortBy(_._1)
            .map { case (cid, rs) =>
              cid -> rs.toSeq.sortBy(_.getInt(2)).map(decode)
            }
        }
    }
    books
  }
}
