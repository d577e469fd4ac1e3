package graft.tools

import org.apache.spark.sql.functions._

/** Gram-pipeline stress driver (the CcStress pattern applied to the
  * dd12/qa05 family): a synthetic corpus ~100x sf0.1's gram count,
  * generated ENTIRELY map-side from spark.range (no driver data, no
  * disk), with planted structure whose exact answer is known:
  *
  *   - every doc is W tokens of doc-unique word soup (md5-derived, so
  *     no accidental cross-doc K-gram repeats at any realistic scale);
  *   - every 10th doc appends one SHARED 30-token boilerplate run — the
  *     only duplicated K-grams in the corpus, so dd12's span table must
  *     contain EXACTLY nDocs/10 docs, each with one maximal span, and
  *     qa05's novelty must be exactly 1.0 for every source that holds
  *     no boilerplate docs (< 1.0 for s0/s10, the two sources the
  *     id%10 docs land in under source = s(id%20)).
  *
  * Prints one JSON line with gram counts and per-pipeline wall seconds.
  * Run: tools/run.sh graft.tools.GramStress [nDocs] (default 500000 ->
  * ~50M grams). Results recorded in docs/ROUND8.md.
  */
object GramStress {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(500000L)
    val W = 100 // soup tokens per doc
    val spark = graft.GraftSession()

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

    val grams = nDocs * (W - 5) + nDocs / 10 * 30 // 6-gram windows
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    val ((spanDocs, spanRows), ddWall) = timed {
      val spans = graft.ops.Dedup.spanPipeline(docs.select(col("doc_id"), col("text")), 6)
      val agg = spans.agg(countDistinct(col("doc_id")), count(lit(1))).collect()(0)
      (agg.getLong(0), agg.getLong(1))
    }
    require(spanDocs == nDocs / 10,
      s"expected ${nDocs / 10} docs with duplicate spans, got $spanDocs")
    require(spanRows == nDocs / 10,
      s"expected one maximal span per boilerplate doc, got $spanRows")

    val (novelty, qaWall) = timed {
      graft.ops.Dedup.noveltyReport(docs, 8).collect()
        .map(r => r.getString(0) -> r.getDouble(4)).toMap
    }
    require(novelty.size == 20, s"expected 20 sources, got ${novelty.size}")
    val impure = novelty.filter(_._2 < 1.0).keySet
    require(impure == Set("s0", "s10"),
      s"expected boilerplate to taint exactly s0/s10, got $impure")

    println(s"""{"docs":$nDocs,"grams6":$grams,"span_docs":$spanDocs,""" +
      s""""dd12_wall_sec":$ddWall,"qa05_wall_sec":$qaWall}""")
    spark.stop()
  }
}
