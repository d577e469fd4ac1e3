package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.tools.Scale.timed

/** Gram-pipeline gate (the cc gate's pattern applied to the dd12/qa05
  * family): a synthetic corpus ~100x sf0.1's gram count at the default
  * size, generated ENTIRELY map-side from spark.range (no driver data,
  * no disk), with planted structure whose exact answer is known:
  *
  *   - every doc is W tokens of doc-unique word soup (md5-derived, so
  *     no accidental cross-doc K-gram repeats at any realistic scale);
  *   - every 10th doc appends one SHARED 30-token boilerplate run — the
  *     only duplicated K-grams in the corpus, so dd12's span table must
  *     contain EXACTLY the ⌈nDocs/10⌉ boilerplate docs, each with one
  *     maximal span, and qa05's novelty must be exactly 1.0 for every
  *     source that holds no boilerplate docs (< 1.0 for s0/s10, the two
  *     sources the id%10 docs land in under source = s(id%20)).
  *
  * Size = nDocs (default 500000 -> ~50M grams). Results recorded in
  * docs/ROUND8.md.
  */
private[tools] object GramGate {

  def run(spark: SparkSession, nDocs: Long): Scale.Measures = {
    val W = 100 // soup tokens per doc
    // doc-unique soup: word i of doc d = 6 hex chars of md5(d || '_' || i);
    // boilerplate: 30 fixed words every 10th doc, same for all of them
    val soup = transform(sequence(lit(0), lit(W - 1)),
      i => substring(md5(concat(col("id"), lit("_"), i)), 1, 6))
    val boiler = transform(sequence(lit(0), lit(29)),
      i => substring(md5(concat(lit("boilerplate"), i)), 1, 6))
    val docs = spark.range(0, nDocs)
      .select(col("id").as("doc_id"),
        concat(lit("s"), (col("id") % 20)).as("source"),
        array_join(when(col("id") % 10 === 0, concat(soup, boiler))
          .otherwise(soup), " ").as("text"))
    val boilerDocs = (nDocs + 9) / 10
    val grams = nDocs * (W - 5) + boilerDocs * 30 // 6-gram windows

    val ((spanDocs, spanRows), ddWall) = timed {
      val spans = graft.ops.Dedup.spanPipeline(docs.select(col("doc_id"), col("text")), 6)
      val agg = spans.agg(countDistinct(col("doc_id")), count(lit(1))).collect()(0)
      (agg.getLong(0), agg.getLong(1))
    }
    require(spanDocs == boilerDocs,
      s"expected $boilerDocs docs with duplicate spans, got $spanDocs")
    require(spanRows == boilerDocs,
      s"expected one maximal span per boilerplate doc, got $spanRows")

    val (novelty, qaWall) = timed {
      graft.ops.Dedup.noveltyReport(docs, 8).collect()
        .map(r => r.getString(0) -> r.getDouble(4)).toMap
    }
    require(novelty.size == 20, s"expected 20 sources, got ${novelty.size}")
    val impure = novelty.filter(_._2 < 1.0).keySet
    require(impure == Set("s0", "s10"),
      s"expected boilerplate to taint exactly s0/s10, got $impure")

    Seq("docs" -> nDocs, "grams6" -> grams, "span_docs" -> spanDocs,
      "dd12_wall_sec" -> ddWall, "qa05_wall_sec" -> qaWall)
  }
}
