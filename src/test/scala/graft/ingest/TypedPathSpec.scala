package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** EP3 typed-struct path parity: Encoder-derived schema replaces the
  * reference's reflection walk; same flatten semantics as the DataFrame
  * path. */
class TypedPathSpec extends SparkSpec {

  test("typed JSON path flattens the fixture to the same 20 rows as the DataFrame path") {
    val typed = TypedPath.flatten(
      TypedPath.readJson(spark, "/root/reference/test-loader.json")).cache()
    try {
      assert(typed.count() == 20)
      val dfPath = JsonIngest.projectWhitelist(
        Flatten(JsonIngest.read(spark, "/root/reference/test-loader.json")),
        IngestSchema.sinkColumns,
        IngestSchema.flattened.fields.map(f => f.name -> f.dataType).toMap)
      val a = typed.toDF().select(dfPath.columns.map(col): _*).collect()
        .map(_.toSeq).toSet
      val b = dfPath.collect().map(_.toSeq).toSet
      assert(a == b, "typed and DataFrame paths must agree row-for-row")
    } finally typed.unpersist()
  }

  test("typed XML path flattens to 16 rows") {
    assert(TypedPath.flatten(
      TypedPath.readXml(spark, "/root/reference/test-loader.xml")).count() == 16)
  }

  test("typed nullable fields preserve None") {
    val typed = TypedPath.flatten(
      TypedPath.readJson(spark, "/root/reference/test-loader.json"))
    assert(typed.filter(col("ast_name").isNull).count() > 0)
  }

  test("sample-record generator: deterministic, typed flatten obeys Σ max(1,k)") {
    val ds = SampleData.generate(spark, 30).cache()
    try {
      assert(ds.count() == 30)
      val expected = ds.collect().map(r => math.max(1, r.fnumbers.size).toLong).sum
      assert(TypedPath.flatten(ds).count() == expected)
      // determinism
      val again = SampleData.generate(spark, 30).collect().toSeq
      assert(again == ds.collect().toSeq)
    } finally ds.unpersist()
  }

  test("jdbc sink honors numWriters (worker-count parity)") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graftdb2;create=true"
    val props = new java.util.Properties()
    val c = java.sql.DriverManager.getConnection(url, props)
    try {
      try c.createStatement().execute("DROP TABLE wtest") catch { case _: Exception => }
      c.createStatement().execute("""CREATE TABLE wtest ("name" VARCHAR(255), "v" BIGINT)""")
    } finally c.close()
    val df = (1 to 20).map(i => (s"r$i", i.toLong)).toDF("name", "v").repartition(8)
    val res = JdbcTransactionalSink.write(df, url, props, "wtest",
      JdbcTransactionalSink.Options(numWriters = Some(2)))
    assert(res.committed && res.succeeded == 20)
  }
}
