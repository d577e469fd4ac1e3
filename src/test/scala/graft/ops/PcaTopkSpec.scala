package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** emb07's deflation eigensolve: planted-direction recovery on a
  * synthetic corpus (the gate that the top-k chain finds REAL
  * structure, not just hash-stable numbers), plus consistency with
  * emb05's single-component solve on the reference corpus. */
class PcaTopkSpec extends SparkSpec {

  private def cos(a: Seq[Double], b: Seq[Double]): Double = {
    val d = a.zip(b).map { case (x, y) => x * y }.sum
    d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
  }

  test("planted 3-direction corpus: deflation recovers each axis in " +
      "variance order, mutually orthogonal") {
    // three orthogonal planted directions with distinct block energies:
    // u1 ∝ e5+e6 (|q| ≈ 127+127), u2 ∝ e17−e18 (≈ 91+91), u3 ∝ e40
    // (≈ 73); independent ±1 sign draws keep the means near zero and
    // the cross-covariance negligible
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map { i =>
      val s1 = if (rnd.nextBoolean()) 1f else -1f
      val s2 = if (rnd.nextBoolean()) 1f else -1f
      val s3 = if (rnd.nextBoolean()) 1f else -1f
      val v = Array.fill(64)(0.0f)
      v(5) = s1 * 70f; v(6) = s1 * 70f
      v(17) = s2 * 50f; v(18) = -s2 * 50f
      v(40) = s3 * 40f
      (i.toLong, v.toSeq)
    }
    import spark.implicits._
    val dir = tempDir("graft_pca_plant").toString
    rows.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val p = Similarity.pcaSolveK(spark, dir, 3).get
    val comps = p.comps.map(_.map(_.toDouble / 1e6).toSeq)
    val planted = Seq(
      Seq.tabulate(64)(j => if (j == 5 || j == 6) 1.0 else 0.0),
      Seq.tabulate(64)(j =>
        if (j == 17) 1.0 else if (j == 18) -1.0 else 0.0),
      Seq.tabulate(64)(j => if (j == 40) 1.0 else 0.0))
    comps.zip(planted).zipWithIndex.foreach { case ((got, want), i) =>
      val c = math.abs(cos(got, want))
      assert(c > 0.95, s"component $i misaligned: |cos| = $c")
    }
    // variance order strictly descending, components near-orthogonal
    assert(p.lams(0) > p.lams(1) && p.lams(1) > p.lams(2),
      s"eigenvalues not descending: ${p.lams}")
    for (i <- 0 until 3; j <- (i + 1) until 3) {
      val c = math.abs(cos(comps(i), comps(j)))
      assert(c < 0.1, s"components $i,$j not orthogonal: |cos| = $c")
    }
  }

  test("emb07's first component reproduces emb05's projection exactly") {
    val pc1 = Similarity.queries("emb05_pca_project")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val top = Similarity.queries("emb07_pca_topk")(spark, sf)
      .select(col("vec_id"), col("pc1")).collect()
    assert(top.nonEmpty)
    top.foreach(r => assert(pc1(r.getLong(0)) == r.getLong(1),
      s"vec ${r.getLong(0)}: emb07.pc1 ${r.getLong(1)} != emb05 ${pc1(r.getLong(0))}"))
  }

  test("empty corpus yields an empty 9-column frame") {
    val dir = tempDir("graft_pca_empty").toString
    import spark.implicits._
    Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.queries("emb07_pca_topk")(spark, dir)
    assert(out.columns.toSeq ==
      "vec_id" +: (1 to 8).map(j => s"pc$j"))
    assert(out.count() == 0)
  }

  test("empty-corpus solve is NOT cached: data arriving later is seen") {
    // the scatterSolve memo must only pin the Some case — a query
    // issued before the corpus lands must not freeze "empty" for the
    // rest of the session (the pcaSolve / ivfInt8Centroids rule)
    val dir = tempDir("graft_pca_late").toString
    import spark.implicits._
    Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(Similarity.queries("emb07_pca_topk")(spark, dir).count() == 0)
    assert(Similarity.queries("emb08_jl_project")(spark, dir).count() == 0)
    spark.read.parquet(s"$sf/embeddings.parquet")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // Spark's OWN listing cache is out of scope here — refreshByPath is
    // the documented user step after an external writer changes a path;
    // what must NOT survive it is graft's solve/quantize memo
    spark.catalog.refreshByPath(s"$dir/embeddings.parquet")
    assert(Similarity.queries("emb07_pca_topk")(spark, dir).count() > 0,
      "emb07 still empty after data arrived — empty solve was memoized")
    assert(Similarity.queries("emb08_jl_project")(spark, dir).count() > 0,
      "emb08 still empty after data arrived")
  }
}
