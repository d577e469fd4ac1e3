package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The XML DataSource V2: format() read path, equivalence with the RDD
  * readers, and column pruning reaching the parse. */
class XmlDataSourceSpec extends SparkSpec {

  private val fixture = "/root/reference/test-loader.xml"

  private def v2(path: String) = spark.read
    .format("graft.ingest.xml.XmlDataSource")
    .schema(IngestSchema.raw)
    .option("rowTag", "Record")
    .load(path)

  test("format() read equals the RDD reader on the fixture") {
    val a = v2(fixture).collect().map(_.toString).sorted.toSeq
    val b = XmlRecordReader.read(spark, fixture, "Record", IngestSchema.raw)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b && a.size == 8)
  }

  test("column pruning reaches the scan (ReadSchema only carries referenced fields)") {
    val pruned = v2(fixture).select(col("user"), col("status"))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema=struct<user:string,status:string>"),
      s"expected pruned ReadSchema in plan:\n$plan")
    assert(pruned.collect().length == 8)
  }

  test("full pipeline through the V2 source: flatten to the 16 golden rows") {
    val flat = Flatten(v2(fixture))
    assert(flat.count() == 16)
  }

  test("filter pushdown: supported predicates skip records at the parse, results exact") {
    val df = v2(fixture).filter(col("status") === "Pending" && col("dt_created") > 0L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters=[") && plan.contains("EqualTo(status,Pending)"),
      s"expected pushed filters in scan description:\n$plan")
    val expected = XmlRecordReader.read(spark, fixture, "Record", IngestSchema.raw)
      .filter(col("status") === "Pending" && col("dt_created") > 0L)
      .collect().map(_.toString).sorted.toSeq
    assert(df.collect().map(_.toString).sorted.toSeq == expected)
    assert(expected.nonEmpty)
  }

  test("filter pushdown never wrongly drops: unsupported/contains filters still correct") {
    val df = v2(fixture).filter(col("user").contains("o") || col("status") === "Approved")
    val expected = XmlRecordReader.read(spark, fixture, "Record", IngestSchema.raw)
      .filter(col("user").contains("o") || col("status") === "Approved")
      .count()
    assert(df.count() == expected && expected > 0)
  }

  test("missing schema → clear error") {
    val e = intercept[Exception] {
      spark.read.format("graft.ingest.xml.XmlDataSource")
        .option("rowTag", "Record").load(fixture).collect()
    }
    assert(e.getMessage.toLowerCase.contains("schema"))
  }

  test("directory input: one partition per file") {
    val dir = tempDir("xmlv2")
    java.nio.file.Files.copy(java.nio.file.Paths.get(fixture), dir.resolve("a.xml"))
    java.nio.file.Files.copy(java.nio.file.Paths.get(fixture), dir.resolve("b.xml"))
    val df = v2(dir.toString)
    assert(df.rdd.getNumPartitions == 2)
    assert(df.count() == 16)
  }

  test("directory input skips hidden and marker files (_SUCCESS, .crc)") {
    val dir = tempDir("xmlv2hidden")
    // written the way a Spark job leaves a directory: Hadoop's local
    // file system adds a binary `.<name>.crc` next to every file
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def write(name: String, body: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(dir.resolve(name).toString))
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    def doc(n: Int, from: Int) = (from until from + n)
      .map(i => s"<Record><user>u$i</user><status>ok</status></Record>")
      .mkString("<Data>", "", "</Data>")
    write("a.xml", doc(3, 0))
    write("b.xml", doc(2, 3))
    write("_SUCCESS", "")
    assert(java.nio.file.Files.size(dir.resolve(".a.xml.crc")) > 0)
    val df = v2(dir.toString)
    assert(df.rdd.getNumPartitions == 2)
    assert(df.count() == 5)
    // the same files the binaryFiles reader sees
    assert(XmlRecordReader.read(spark, dir.toString, "Record", IngestSchema.raw)
      .count() == 5)
  }
}
