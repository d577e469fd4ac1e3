package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** emb08 (Johnson–Lindenstrauss ±1 projection) and emb09 (PCA
  * whitening): the JL side is gated on exactness-by-construction
  * (deterministic md5 signs, integer fold) plus the statistical
  * property the operator exists for (norm preservation); the whitening
  * side on its defining property — unit variance along every retained
  * component — plus consistency with emb07's projections. */
class JlWhitenSpec extends SparkSpec {

  test("jlSigns is deterministic, ±1-valued, and balanced per output dim") {
    val a = Similarity.jlSigns(64, 16)
    val b = Similarity.jlSigns(64, 16)
    assert(a.length == 16 && a.forall(_.length == 64))
    assert(a.zip(b).forall { case (x, y) => x.sameElements(y) })
    assert(a.flatten.forall(s => s == 1 || s == -1))
    // md5 nibbles are uniform: no output dim should be near-constant
    a.zipWithIndex.foreach { case (row, j) =>
      val pos = row.count(_ == 1)
      assert(pos >= 16 && pos <= 48, s"dim $j badly unbalanced: $pos/64 positive")
    }
  }

  test("emb08 equals the hand-computed integer fold on a pinned-scale corpus") {
    // entries are integers with max |x| = 127, so the ss05 grid is the
    // identity: q == embedding, and the expected projection is a plain
    // integer dot with the driver's sign matrix
    val rnd = new scala.util.Random(11)
    val rows = (0 until 50).map { i =>
      val v = Array.fill(64)((rnd.nextInt(255) - 127).toFloat)
      v(0) = 127f
      (i.toLong, v.toSeq)
    }
    import spark.implicits._
    val dir = tempDir("graft_jl_pin").toString
    rows.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val signs = Similarity.jlSigns(64, 16)
    val got = Similarity.queries("emb08_jl_project")(spark, dir)
      .collect().map(r => r.getLong(0) -> (1 to 16).map(j => r.getLong(j))).toMap
    rows.foreach { case (id, v) =>
      val want = (0 until 16).map(j =>
        v.zip(signs(j)).map { case (x, s) => x.toLong * s }.sum)
      assert(got(id) == want, s"vec $id: ${got(id)} != $want")
    }
  }

  test("emb08 preserves norms on average (the JL contract)") {
    val out = Similarity.queries("emb08_jl_project")(spark, sf)
    val q8 = out.select(col("vec_id"),
      array((1 to 16).map(j => col(s"y$j")): _*).as("y"))
    // E[|y|²] = m·|q|² for ±1 signs; the per-vector ratio concentrates
    // once averaged over the corpus
    val ratio = q8
      .withColumn("ny", expr("aggregate(y, 0D, (a, x) -> a + CAST(x AS DOUBLE) * x)"))
      .agg(avg(col("ny"))).head.getDouble(0)
    val base = graft.Tables.load(spark, sf, "embeddings")
      .withColumn("q", expr(
        """transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) /
          |  (array_max(transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0)
          |) AS INT))""".stripMargin))
      .withColumn("nq", expr(
        "aggregate(q, 0D, (a, x) -> a + CAST(x AS DOUBLE) * x)"))
      .agg(avg(col("nq"))).head.getDouble(0)
    val r = ratio / (16.0 * base)
    assert(r > 0.6 && r < 1.4, s"norm-preservation ratio off: $r")
  }

  test("emb09: every retained component has milli-sigma unit variance") {
    val out = Similarity.queries("emb09_whiten")(spark, sf).cache()
    try {
      val n = out.count()
      assert(n > 0)
      (1 to 8).foreach { j =>
        val Array(m, v) = out
          .agg(avg(col(s"w$j")), avg(col(s"w$j") * col(s"w$j")))
          .head.toSeq.map(_.asInstanceOf[Double]).toArray
        val variance = v - m * m
        // whitened std is 1000 by construction; allow slack for the
        // power iteration's residual error and integer rounding
        assert(math.abs(m) < 200.0, s"w$j mean too large: $m")
        assert(variance > 0.5e6 && variance < 2.0e6,
          s"w$j variance not ~1e6: $variance")
      }
    } finally out.unpersist()
  }

  test("emb09 is emb07's projection rescaled by the same per-component factor") {
    val p = Similarity.pcaSolveK(spark, sf, 8).get
    val top = Similarity.queries("emb07_pca_topk")(spark, sf)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(j => r.getLong(j))).toMap
    val wh = Similarity.queries("emb09_whiten")(spark, sf).collect()
    assert(wh.nonEmpty)
    wh.foreach { r =>
      val pcs = top(r.getLong(0))
      (1 to 8).foreach { j =>
        val lam = p.lams(j - 1)
        val want =
          if (lam > 0.0)
            graft.functions.Num.rhalf(pcs(j - 1).toDouble / math.sqrt(lam) *
              math.sqrt(p.nVecs.toDouble) / 1000.0)
          else 0L
        assert(r.getLong(j) == want,
          s"vec ${r.getLong(0)} w$j: ${r.getLong(j)} != $want")
      }
    }
  }

  test("empty corpus yields empty frames with the full schemas") {
    val dir = tempDir("graft_jl_empty").toString
    import spark.implicits._
    Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val jl = Similarity.queries("emb08_jl_project")(spark, dir)
    assert(jl.columns.toSeq == "vec_id" +: (1 to 16).map(j => s"y$j"))
    assert(jl.count() == 0)
    val wh = Similarity.queries("emb09_whiten")(spark, dir)
    assert(wh.columns.toSeq == "vec_id" +: (1 to 8).map(j => s"w$j"))
    assert(wh.count() == 0)
  }
}
