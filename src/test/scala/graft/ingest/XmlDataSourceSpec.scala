package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The XML DataSource V2: format() read path, equivalence with the
  * canonical JSON path, column pruning reaching the parse, and how a
  * path names its files. */
class XmlDataSourceSpec extends SparkSpec {

  private val fixture = "/root/reference/test-loader.xml"

  private def v2(path: String) = spark.read
    .format("graft.ingest.xml.XmlDataSource")
    .schema(IngestSchema.raw)
    .option("rowTag", "Record")
    .load(path)

  private def oracle(path: String) =
    XmlRecordReader.readViaJson(spark, path, "Record", IngestSchema.raw)

  private def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  /** 2000 records; record i has i % 3 fnumbers. */
  private lazy val bigXml: String = {
    val f = tempDir("xmlv2big").resolve("big.xml")
    val sb = new StringBuilder("<Data>")
    (1 to 2000).foreach { i =>
      sb.append(s"""<Record><user>user$i</user><dt_created>${1698412800L + i}</dt_created>""")
      sb.append(s"""<json_hash>h$i</json_hash>""")
      (0 until i % 3).foreach { j =>
        sb.append(s"<fnumbers><fnumber>FN$i-$j</fnumber><scan_time>t$j</scan_time></fnumbers>")
      }
      sb.append("</Record>")
    }
    sb.append("</Data>")
    java.nio.file.Files.writeString(f, sb.toString)
    f.toString
  }

  test("format() read equals the JSON path on the fixture") {
    val a = sorted(v2(fixture))
    assert(a == sorted(oracle(fixture)) && a.size == 8)
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

  test("a filter above the scan: results exact") {
    val p = col("status") === "Pending" && col("dt_created") > 0L
    val expected = sorted(oracle(fixture).filter(p))
    assert(sorted(v2(fixture).filter(p)) == expected)
    assert(expected.nonEmpty)
  }

  test("a filter with contains and or: results exact") {
    val p = col("user").contains("o") || col("status") === "Approved"
    val expected = oracle(fixture).filter(p).count()
    assert(v2(fixture).filter(p).count() == expected && expected > 0)
  }

  test("a 2000-record document: row count and flattened count") {
    assert(v2(bigXml).count() == 2000)
    assert(sorted(v2(bigXml)) == sorted(oracle(bigXml)))
    // i % 3 == 0 → 1, == 1 → 1, == 2 → 2
    val expected = (1 to 2000).map(i => math.max(1, i % 3)).sum
    assert(Flatten(v2(bigXml)).count() == expected)
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
  }

  test("a glob names the files it matches, as Hadoop's FileInputFormat does") {
    val dir = tempDir("xmlv2glob")
    def write(name: String, users: Int*): Unit = java.nio.file.Files.writeString(
      dir.resolve(name), users.map(i => s"<Record><user>u$i</user></Record>")
        .mkString("<Data>", "", "</Data>"))
    write("a.xml", 1, 2)
    write("b.xml", 3)
    write("c.txt", 4)
    val df = v2(s"$dir/*.xml")
    assert(df.rdd.getNumPartitions == 2)
    assert(df.select("user").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("u1", "u2", "u3"))
  }

  test("a missing path or a glob that matches nothing fails at the load") {
    val dir = tempDir("xmlv2missing")
    for (path <- Seq(s"$dir/missing.xml", s"$dir/*.xml")) {
      val e = intercept[java.io.FileNotFoundException](v2(path))
      assert(e.getMessage.contains(path), e.getMessage)
    }
  }
}
