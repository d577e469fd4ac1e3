package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private def topkSet(name: String): Map[Long, Set[Long]] =
    Similarity.queries(name)(spark, sf)
      .select(col("q_id"), col("vec_id")).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  test("ss01 brute force returns exactly 10 neighbors per query, no self-matches") {
    val df = Similarity.queries("ss01_topk_bruteforce")(spark, sf).cache()
    val counts = df.groupBy(col("q_id")).count().collect()
    assert(counts.length == 10 && counts.forall(_.getLong(1) == 10))
    assert(df.filter(col("q_id") === col("vec_id")).count() == 0)
  }

  test("ss02 LSH candidates are a subset surface: any returned neighbor has true cosine rank") {
    val exact = topkSet("ss01_topk_bruteforce")
    val lsh = topkSet("ss02_lsh_topk")
    // LSH top-k must be real vectors; measure recall@10 against exact.
    val recalls = lsh.map { case (q, s) => (s intersect exact(q)).size / 10.0 }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.2, s"LSH mean recall@10 $mean suspiciously low")
  }

  test("ss03 IVF nprobe=3 gets reasonable recall vs brute force") {
    val exact = topkSet("ss01_topk_bruteforce")
    val ivf = topkSet("ss03_ivf_topk")
    val recalls = ivf.map { case (q, s) => (s intersect exact(q)).size / 10.0 }
    val mean = recalls.sum / recalls.size
    // measured 0.49 at sf0.001 (nprobe=3 of 20 cells); gate at
    // measured-minus-margin so a 2x recall regression fails loudly
    // instead of sliding under an anything-goes floor (round-9
    // verdict: the 0.3 gate was slack). ss03c is the high-recall path.
    assert(mean >= 0.4, s"IVF mean recall@10 $mean below 0.4")
  }

  test("ss03b integer IVF: valid ranking, decent recall, probes only its cells") {
    val ivf = Similarity.queries("ss03b_ivf_int8_topk")(spark, sf).cache()
    val perQ = ivf.groupBy(col("q_id")).agg(count(lit(1)).as("n")).collect()
    assert(perQ.length == 10 && perQ.forall(_.getLong(1) == 10))
    // the exact quantized ground truth, re-derived driver-side (the
    // ss09/ss10 idiom)
    val q8 = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble)
        val scale = v.map(math.abs).max / 127.0
        r.getLong(0) -> v.map(x => math.round(x / scale).toInt)
      }.toMap
    def l2(a: Seq[Int], b: Seq[Int]): Long =
      a.zip(b).map { case (x, y) => (x - y).toLong * (x - y) }.sum
    val exact = q8.keys.filter(_ < 10).map { q =>
      q -> q8.keys.filter(_ != q).toSeq
        .sortBy(x => (l2(q8(q), q8(x)), x)).take(10).toSet
    }.toMap
    val rows = ivf.collect()
    val recalls = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      (rs.map(_.getLong(1)).toSet intersect exact(q)).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    info(s"ss03b mean recall@10 = $mean")
    // measured 0.75; gated at measured-minus-margin (see ss03's gate)
    assert(mean >= 0.6, s"integer-IVF mean recall@10 $mean below 0.6")
    // reported dist IS the exact integer L2 (the metric is not
    // approximated — only the candidate set is)
    rows.take(50).foreach { r =>
      assert(r.getLong(2) == l2(q8(r.getLong(0)), q8(r.getLong(1))))
    }
    ivf.unpersist()
  }

  test("ss03c IVFADC re-rank: recall >= 0.95, exact distances, 10 rows per query") {
    val rr = Similarity.queries("ss03c_ivfadc_rerank")(spark, sf).cache()
    val perQ = rr.groupBy(col("q_id")).agg(count(lit(1)).as("n")).collect()
    assert(perQ.length == 10 && perQ.forall(_.getLong(1) == 10))
    // exact quantized ground truth, re-derived driver-side (ss10 idiom)
    val q8 = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble)
        val scale = v.map(math.abs).max / 127.0
        r.getLong(0) -> v.map(x => math.round(x / scale).toInt)
      }.toMap
    def l2(a: Seq[Int], b: Seq[Int]): Long =
      a.zip(b).map { case (x, y) => (x - y).toLong * (x - y) }.sum
    val exact = q8.keys.filter(_ < 10).map { q =>
      q -> q8.keys.filter(_ != q).toSeq
        .sortBy(x => (l2(q8(q), q8(x)), x)).take(10).toSet
    }.toMap
    val rows = rr.collect()
    val recalls = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      (rs.map(_.getLong(1)).toSet intersect exact(q)).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    info(s"ss03c mean recall@10 = $mean")
    assert(mean >= 0.95,
      s"IVFADC+re-rank mean recall@10 $mean below 0.95 — probe coverage " +
        "or the exact stage regressed")
    // the reported l2 IS the exact integer distance, never the ADC one
    rows.take(50).foreach { r =>
      assert(r.getLong(2) == l2(q8(r.getLong(0)), q8(r.getLong(1))))
    }
    rr.unpersist()
  }

  test("emb04: 5 ranked outliers per label, and they ARE the label's cosine minima") {
    val out = Similarity.queries("emb04_centroid_outliers")(spark, sf).cache()
    val perL = out.groupBy(col("label")).agg(count(lit(1)).as("n"),
      max(col("rank")).as("mx"), min(col("rank")).as("mn")).collect()
    assert(perL.nonEmpty && perL.forall(r =>
      r.getLong(1) == 5 && r.getInt(2) == 5 && r.getInt(3) == 1))
    assert(out.filter(col("cos") < -1.0 || col("cos") > 1.0).count() == 0)
    // model recount: per label, the 5 smallest cosines against the
    // rounded per-dim mean centroid (ties by vec_id)
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    val byLabel = rows.groupBy(_._2)
    val expect = byLabel.toSeq.flatMap { case (l, vs) =>
      val dims = vs.head._3.length
      val cent = (0 until dims).map(j =>
        BigDecimal(vs.map(_._3(j)).sum / vs.size)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble).toArray
      def dot(a: Array[Double], b: Array[Double]) =
        a.zip(b).map { case (x, y) => x * y }.sum
      vs.map { case (id, _, v) =>
        (l, id, dot(v, cent) / (math.sqrt(dot(v, v)) * math.sqrt(dot(cent, cent))))
      }.sortBy { case (_, id, c) => (c, id) }.take(5)
        .map { case (_, id, _) => (l, id) }.toSeq
    }.toSet
    val got = out.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got == expect, s"outlier sets diverged: got ${got -- expect} extra, missing ${expect -- got}")
    out.unpersist()
  }

  test("ss09 PQ top-k: valid ranking, decent recall vs the exact int8 L2 order") {
    val pq = Similarity.queries("ss09_pq_topk")(spark, sf).cache()
    // structure: 10 ranked rows per query, distances non-decreasing
    val perQ = pq.groupBy(col("q_id")).agg(count(lit(1)).as("n")).collect()
    assert(perQ.forall(_.getLong(1) == 10))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("rank"))
    val nonMono = pq.withColumn("prev", lag(col("dist"), 1).over(w))
      .filter(col("prev").isNotNull && col("dist") < col("prev")).count()
    assert(nonMono == 0, "ADC distances not sorted by rank")
    // recall vs the exact quantized L2 ranking (ss06's integer ground
    // truth, re-derived here with L2 instead of dot)
    val q8 = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble)
        val scale = v.map(math.abs).max / 127.0
        r.getLong(0) -> v.map(x => math.round(x / scale).toInt)
      }.toMap
    def l2(a: Seq[Int], b: Seq[Int]): Long =
      a.zip(b).map { case (x, y) => (x - y).toLong * (x - y) }.sum
    val exact = q8.keys.filter(_ < 10).map { q =>
      q -> q8.keys.filter(_ != q).toSeq
        .sortBy(x => (l2(q8(q), q8(x)), x)).take(10).toSet
    }.toMap
    val recalls = pq.collect().groupBy(_.getLong(0)).map { case (q, rows) =>
      (rows.map(_.getLong(1)).toSet intersect exact(q)).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"PQ mean recall@10 $mean below 0.5")
    pq.unpersist()
  }

  test("ss10 re-rank recall >= 0.95 vs the exact int8 L2 ranking") {
    val rr = Similarity.queries("ss10_pq_rerank")(spark, sf).cache()
    val perQ = rr.groupBy(col("q_id")).agg(count(lit(1)).as("n")).collect()
    assert(perQ.forall(_.getLong(1) == 10))
    // the exact quantized ground truth, re-derived driver-side
    val q8 = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble)
        val scale = v.map(math.abs).max / 127.0
        r.getLong(0) -> v.map(x => math.round(x / scale).toInt)
      }.toMap
    def l2(a: Seq[Int], b: Seq[Int]): Long =
      a.zip(b).map { case (x, y) => (x - y).toLong * (x - y) }.sum
    val exact = q8.keys.filter(_ < 10).map { q =>
      q -> q8.keys.filter(_ != q).toSeq
        .sortBy(x => (l2(q8(q), q8(x)), x)).take(10).toSet
    }.toMap
    val recalls = rr.collect().groupBy(_.getLong(0)).map { case (q, rows) =>
      (rows.map(_.getLong(1)).toSet intersect exact(q)).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.95,
      s"two-stage PQ mean recall@10 $mean below 0.95 — the re-rank is not doing its job")
    // and the reported l2 IS the exact distance (not the ADC estimate)
    val sample = rr.limit(50).collect()
    sample.foreach { r =>
      assert(r.getLong(2) == l2(q8(r.getLong(0)), q8(r.getLong(1))),
        s"reported l2 drifted from exact for (${r.getLong(0)}, ${r.getLong(1)})")
    }
    rr.unpersist()
  }

  test("ss09 plan: the ADC scan shuffles ONLY for the top-k window") {
    // encode (argmin vs literals) and LUT distance are map-side over
    // the persisted int8 corpus; the broadcast query side adds no
    // shuffle — the lone exchange is the per-query top-k repartition
    val plan = Similarity.queries("ss09_pq_topk")(spark, sf)
      .queryExecution.sparkPlan
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    // ≤ 1: the window's q_id repartition when the input is multi-
    // partition, zero when it already satisfies the clustering — never
    // a corpus-sized exchange from encoding or LUT distance
    assert(shuffles.size <= 1,
      s"encode/ADC must not shuffle the corpus, got ${shuffles.size}:\n$plan")
  }

  test("ss07 range search plans with ZERO shuffles (map-only at any scale)") {
    val df = Similarity.queries("ss07_range_search")(spark, sf)
    val shuffles = df.queryExecution.sparkPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(shuffles.isEmpty,
      s"range search must be broadcast+scan only:\n${df.queryExecution.sparkPlan}")
    // and every returned pair actually clears the threshold
    val bad = df.filter(col("cos") < 0.2).count()
    assert(bad == 0, s"$bad pairs below the radius")
  }

  test("emb01 label centroids match a driver-side model computation") {
    val out = Similarity.queries("emb01_label_centroid")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    val byLabel = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("label"), col("embedding")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(out.size == byLabel.size * byLabel.head._2.head.size)
    byLabel.foreach { case (label, vs) =>
      (0 until vs.head.size).foreach { d =>
        val mean = vs.map(_(d).toDouble).sum / vs.size
        val (c, n) = out((label, d))
        assert(n == vs.size, s"label $label dim $d count")
        // output rounds to 4 decimals
        assert(math.abs(c - mean) <= 5e-5 + 1e-9, s"label $label dim $d")
      }
    }
  }

  test("emb05 PCA: recovers a planted dominant direction (|corr| > 0.99), " +
    "deterministic across runs") {
    import spark.implicits._
    // synthetic corpus with a KNOWN principal axis: vec = t·u + small
    // deterministic noise, t = ±200 (CONSTANT magnitude, because the
    // chain starts from ss05's per-vector quantization, which is
    // scale-invariant — only the direction survives, so the planted
    // signal must live in direction, not length). The planted ±u
    // split dwarfs the ±3-per-dim noise, so the true top eigenvector
    // is ~u and pc1 must separate the two planted sides — gating
    // SEMANTICS (the eigensolve finds the dominant axis), where the
    // DuckDB oracle gates the bit-exact replay.
    val dim = 64
    val u = Array.tabulate(dim)(j => if (j % 3 == 0) 3.0 else if (j % 3 == 1) -2.0 else 1.0)
    val rows = (0 until 400).map { i =>
      val t = if (i % 2 == 0) 200.0 else -200.0
      val emb = Array.tabulate(dim)(j =>
        (t * u(j) + ((i * 31 + j * 17) % 7 - 3)).toFloat)
      (i.toLong, emb, 0)
    }
    val d = tempDir("graft_pca").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val out = Similarity.queries("emb05_pca_project")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 400)
    val ts = rows.map(r => if (r._1 % 2 == 0) 200.0 else -200.0)
    val ps = rows.map(r => out(r._1).toDouble)
    def corr(a: Seq[Double], b: Seq[Double]): Double = {
      val (ma, mb) = (a.sum / a.size, b.sum / b.size)
      val cov = a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum
      val (va, vb) = (a.map(x => (x - ma) * (x - ma)).sum,
        b.map(x => (x - mb) * (x - mb)).sum)
      cov / math.sqrt(va * vb)
    }
    val c = corr(ts, ps)
    assert(math.abs(c) > 0.99, s"pc1 lost the planted axis: corr $c")
    // reproducibility: the projection is a pure function of the corpus
    val again = Similarity.queries("emb05_pca_project")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == out, "emb05 not deterministic across invocations")

    // emb06 on the same corpus: a planted 1-D structure means pc1
    // captures nearly all the variance (λ₁/trace ≈ 1), and λ₁ can
    // never exceed the trace of a PSD scatter
    val v6 = Similarity.queries("emb06_pca_variance")(spark, d).head
    assert(v6.getLong(0) == 400)
    val (trace, lamE4, ratioE6) = (v6.getLong(1), v6.getLong(2), v6.getLong(3))
    assert(trace > 0)
    assert(lamE4 <= trace * 10000L, s"lambda $lamE4 exceeds trace $trace")
    assert(ratioE6 > 900000L,
      s"planted 1-D corpus but pc1 explains only $ratioE6 / 1e6 of variance")
  }

  test("emb10 k-center: matches a driver-side farthest-point replay, " +
    "radii non-increasing, centers distinct") {
    val out = Similarity.queries("emb10_kcenter")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(out.length == 8)
    assert(out.map(_._2).distinct.length == 8, "centers not distinct")
    // the k-center invariant: each new center is chosen at the max-min
    // distance the previous set left uncovered, which can only shrink
    out.drop(1).sliding(2).foreach { w =>
      assert(w(1)._3 <= w(0)._3, s"radius grew: round ${w(1)._1}")
    }
    // full model replay in plain Scala (independent quantize + greedy)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble)
        val scale = v.map(math.abs).max / 127.0
        r.getLong(0) -> v.map(x => math.round(x / scale).toInt).toArray
      }.toMap
    def l2(a: Array[Int], b: Array[Int]): Long =
      a.indices.map(i => (a(i) - b(i)).toLong * (a(i) - b(i))).sum
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString
    val seedId = vecs.keys.toSeq.sortBy(id => (md5hex(id.toString), id)).head
    var picked = Vector((1, seedId, 0L))
    while (picked.length < 8) {
      val chosen = picked.map(_._2).toSet
      val (id, rad) = vecs.filterNot(kv => chosen(kv._1))
        .map { case (id, q) => id -> picked.map(p => l2(q, vecs(p._2))).min }
        .minBy { case (id, rad) => (-rad, id) }
      picked :+= ((picked.length + 1, id, rad))
    }
    assert(out.toSeq == picked, s"traversal diverged:\n$out\nvs\n$picked")
  }

  test("qa09 coverage: full Voronoi replay, populations cover the corpus " +
    "exactly once, worst distance bounded by the last k-center radius") {
    val out = Similarity.queries("qa09_coreset_coverage")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val centers = Similarity.queries("emb10_kcenter")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSet.subsetOf(centers.map(_._2).toSet),
      "a cell is keyed by a non-center")
    // independent quantize + assignment replay in plain Scala
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble)
        val scale = v.map(math.abs).max / 127.0
        r.getLong(0) -> v.map(x => math.round(x / scale).toInt).toArray
      }.toMap
    def l2(a: Array[Int], b: Array[Int]): Long =
      a.indices.map(i => (a(i) - b(i)).toLong * (a(i) - b(i))).sum
    val cvs = centers.map(_._2).sorted.map(id => id -> vecs(id))
    val asg = vecs.toSeq.map { case (_, q) =>
      cvs.map { case (c, cq) => (c, l2(q, cq)) }
        .minBy { case (c, d) => (d, c) }
    }
    val ref = asg.groupBy(_._1).map { case (cid, xs) =>
      (cid, xs.size.toLong,
        xs.map(_._2).sum.toDouble / xs.size, xs.map(_._2).max)
    }.toSet
    assert(out.toSet == ref, s"coverage diverged:\n${out.toSet}\nvs\n$ref")
    assert(out.map(_._2).sum == vecs.size, "cell populations != corpus")
    // the k-center bound: the worst covered distance is exactly what a
    // 9th round would pick, which cannot exceed round 8's radius
    val r8 = centers.maxBy(_._1)._3
    assert(out.map(_._4).max <= r8,
      s"coverage worse than the last selection radius: ${out.map(_._4).max} > $r8")
  }

  test("qa10 recall equals an independent overlap count of ss01 vs ss03") {
    val exact = Similarity.queries("ss01_topk_bruteforce")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ann = Similarity.queries("ss03_ivf_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val out = Similarity.queries("qa10_ann_recall")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byQ = exact.groupBy(_._1)
    assert(out.length == byQ.size, "one recall row per probe query")
    out.foreach { case (q, nTrue, nHit, recall) =>
      val ex = byQ(q)
      assert(nTrue == ex.length.toLong && nTrue == 10L, s"q=$q base size")
      val hits = ex.count(ann)
      assert(nHit == hits.toLong, s"q=$q overlap")
      assert(recall == hits.toDouble / ex.length, s"q=$q recall value")
    }
  }
}
