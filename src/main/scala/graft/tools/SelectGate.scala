package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.tools.Scale.timed

/** Data-selection gate (the graph gate's pattern applied to the
  * round-13 selection family): synthetic corpora far above sf0.1 at
  * the default size, generated map-side from spark.range, with planted
  * structure whose qualitative answers are known in closed form.
  *
  *  - DSIR kernel (pp15's exact shape, including the per-token md5):
  *    `nDocs` docs × 20 tokens; lang = en for doc_id % 5 == 0; en docs
  *    draw token ids from [0, V/2), every other lang from [V/4, 3V/4) —
  *    half of each slice's mass is exclusive vocabulary, so the learned
  *    λ must separate the slices: en's mean per-token weight exceeds
  *    every other language's. Certifies at scale: the feature aggregate
  *    is the ONLY corpus-sized shuffle, the λ table stays 1024 rows
  *    (broadcast) no matter the corpus, and the scoring pass is one
  *    join + one keyed agg.
  *  - k-center greedy (emb10's kernel via Similarity.kcenterGreedy):
  *    `nVecs` int8 vectors in 8 planted cube-corner clusters at
  *    inter-center distance² ≥ 5·100² with per-coordinate jitter ≤ ±2
  *    (intra-distance² ≤ 16·16 = 256) — the farthest-point traversal
  *    must therefore pick EXACTLY one vector from each planted cluster
  *    in its 8 rounds, with every round one map-only scan + top-1.
  *    The vector frame is NOT persisted: it generates map-side from
  *    range (no shuffle), so regeneration per round is cheaper than
  *    pinning ~nVecs·16 ints in storage.
  *
  * Size = nDocs (default 5M); nVecs = 2/5 nDocs (2M). Results in
  * docs/ROUND13.md.
  */
private[tools] object SelectGate {

  def run(spark: SparkSession, nDocs: Long): Scale.Measures = {
    val nVecs = nDocs * 2 / 5

    // ---- DSIR at nDocs × 20 tokens ----
    val v = 40000L
    val toks = spark.range(nDocs)
      .select(col("id").as("doc_id"),
        element_at(array(lit("en"), lit("de"), lit("fr"), lit("es"), lit("zh")),
          (pmod(col("id"), lit(5)) + 1).cast("int")).as("lang"),
        explode(sequence(lit(1), lit(20))).as("k"))
      .select(col("doc_id"), col("lang"),
        concat(lit("w"),
          (when(col("lang") === "en", lit(0L)).otherwise(lit(v / 4)) +
            pmod(col("doc_id") * 7 + col("k") * 13, lit(v / 2)))
            .cast("string")).as("w"))
    val feats = toks
      .groupBy(col("doc_id"), col("lang"),
        (conv(substring(md5(col("w")), 1, 5), 16, 10)
          .cast("long") % graft.queries.Pipeline.DsirB).as("b"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val (_, tFeats) = timed(feats.count())
    val ((byLang, nLam), tWeights) = timed {
      val lam = graft.queries.Pipeline.dsirLam(
        graft.queries.Pipeline.dsirBuckets(feats))
      val wdoc = graft.queries.Pipeline.dsirWdoc(feats, lam)
      (wdoc.groupBy(col("lang")).agg(avg(col("raw_w")).as("mw"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap,
        lam.count())
    }
    feats.unpersist()
    assert(nLam <= graft.queries.Pipeline.DsirB,
      s"lambda table outgrew the fixed feature space: $nLam")
    val enMean = byLang("en")
    byLang.filter(_._1 != "en").foreach { case (l, m) =>
      assert(enMean > m,
        s"DSIR failed to separate the target slice: en $enMean vs $l $m")
    }

    // ---- k-center greedy at nVecs ----
    val q8 = spark.range(nVecs).selectExpr("id AS vec_id",
      "transform(sequence(0, 15), j -> CAST(" +
        "(CASE WHEN shiftright(CAST(id % 8 AS INT), CAST(j % 3 AS INT)) % 2 = 1" +
        " THEN 100 ELSE 0 END) + ((id * 31 + j) % 5) - 2 AS INT)) AS q")
    val (centers, tKc) = timed {
      graft.ops.Similarity.kcenterGreedy(spark, q8, 8).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    }
    val clusters = centers.map(_._2 % 8).toSet
    assert(clusters.size == 8,
      s"traversal missed planted clusters: ${clusters.toSeq.sorted}")
    val radii = centers.sortBy(_._1).map(_._3)
    assert(radii.drop(1).zip(radii.drop(2)).forall { case (a, b) => b <= a }, "radius grew")
    assert(radii.drop(1).forall(_ >= 5L * 100 * 100),
      s"a center was picked inside a planted cluster: ${radii.toSeq}")

    Seq("n_docs" -> nDocs, "n_vecs" -> nVecs,
      "dsir_feats_s" -> tFeats, "dsir_weights_s" -> tWeights,
      "lam_rows" -> nLam, "en_mean" -> enMean, "kcenter_8rounds_s" -> tKc)
  }
}
