package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.types._

/** Stream/batch parity for DSIR scoring: the stateless map-only scorer
  * (dense-λ array, one expression, no shuffle/state) must reproduce the
  * oracle-gated batch pp15 row-for-row — first applied to a batch frame
  * (pins the grouped-vs-sequential float-summation argument), then to a
  * streaming read of the same corpus ("score the crawl as it lands"). */
class DsirStreamSpec extends SparkSpec {

  private type Row5 = (Long, String, Long, Double, Boolean)

  private def asTuples(rows: Array[org.apache.spark.sql.Row]): Set[Row5] =
    rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getDouble(3), r.getBoolean(4))).toSet

  test("map-only DSIR scorer equals batch pp15 on batch and streaming input") {
    import graft.queries.Pipeline
    val (lam, mean) = Pipeline.dsirModel(spark, sf)
    assert(lam.length == Pipeline.DsirB)
    val want = asTuples(
      Pipeline.queries("pp15_dsir_sample")(spark, sf).collect())
    assert(want.nonEmpty)

    // batch form: same rows from one shuffle-free expression
    val batch = asTuples(Pipeline.dsirScore(
      graft.Tables.load(spark, sf, "documents"), lam, mean).collect())
    assert(batch == want, "map-only batch scorer diverged from pp15")

    // streaming form: drop the corpus into a watched directory in two
    // files (two triggers) — stateless scoring is trigger-invariant
    val dir = tempDir("dsir_stream")
    // FileStreamSource discovers FLAT files, not nested write dirs:
    // stage each half, then move its part file into the watched dir
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang").cache()
    Seq("0" -> "drop1", "1" -> "drop2").foreach { case (par, name) =>
      val stage = s"$dir/stage_$name"
      docs.filter(s"doc_id % 2 = $par").coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        dir.resolve(s"$name.parquet"))
    }
    // the cache only spans the two staging writes; the shared
    // session outlives this suite
    docs.unpersist()
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
    val q = Pipeline.dsirScore(stream, lam, mean)
      .writeStream.format("memory").queryName("dsir_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = asTuples(spark.table("dsir_stream").collect())
      assert(streamed == want, "streaming scorer diverged from pp15")
    } finally q.stop()
  }
}
