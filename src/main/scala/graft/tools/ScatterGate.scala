package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.tools.Scale.timed

/** ScatterAggregate gate (the sketch gate's pattern applied to emb05's
  * second-moment aggregate): a synthetic vector stream ~100× sf0.1's
  * embedding count × its dim budget at the default size, generated
  * map-side from spark.range, with a CLOSED-FORM exact answer:
  *
  *   vector i has components c_ij = ((i + j) mod 7) − 3, so
  *   S[a][b] = Σ_r n_r · f((r+a) mod 7) · f((r+b) mod 7) where
  *   n_r = |{i : i mod 7 = r}| and f(x) = x − 3 — 7 residue classes,
  *   exact in the driver without enumerating a single row.
  *
  * What this certifies at scale:
  *   - every one of the d(d+1)/2 cells is EXACTLY the closed form
  *     after ~10⁹ folded outer products (no overflow, no lost merge);
  *   - the aggregation state stays one triangle buffer per map
  *     partition regardless of rows (the run would OOM instantly if
  *     state scaled with data);
  *   - single-pass wall time for the O(n·d²) irreducible work.
  *
  * Size = nRows (default 60M) vectors of dim 16. Results in
  * docs/ROUND10.md.
  */
private[tools] object ScatterGate {

  def run(spark: SparkSession, nRows: Long): Scale.Measures = {
    val dim = 16
    val vecs = spark.range(nRows).select(
      expr(s"transform(sequence(0, ${dim - 1}), " +
        "j -> CAST((id + j) % 7 - 3 AS INT))").as("c"))

    val (got, sec) = timed(vecs.agg(graft.functions.Scatter.scatterMatrix(col("c"), dim))
      .head().getSeq[scala.collection.Seq[Long]](0))

    // closed form over the 7 residue classes
    val nr = Array.tabulate(7)(r => nRows / 7 + (if (r < nRows % 7) 1L else 0L))
    def f(x: Long): Long = x - 3
    var bad = 0
    for (a <- 0 until dim; b <- 0 until dim) {
      var want = 0L
      for (r <- 0 until 7)
        want += nr(r) * f((r + a) % 7) * f((r + b) % 7)
      if (got(a)(b) != want) bad += 1
    }
    require(bad == 0, s"$bad scatter cells diverged from the closed form")

    Seq("n_rows" -> nRows, "dim" -> dim, "cells_exact" -> true,
      "outer_products" -> nRows * dim.toLong * (dim + 1) / 2, "sec" -> sec)
  }
}
