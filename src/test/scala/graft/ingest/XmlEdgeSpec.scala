package graft.ingest

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** XML edge semantics: one-level map lift (fileloader-schema.go:488-496),
  * repeated-tag promotion, whitespace trimming. */
class XmlEdgeSpec extends SparkSpec {

  private def writeXml(content: String): String = {
    val f = tempDir("xml_edge").resolve("xml_edge.xml")
    Files.writeString(f, content)
    f.toString
  }

  test("one-level nested map is lifted into the parent, overwriting scalars") {
    val path = writeXml(
      """<Data><Record>
        |  <user>u1</user>
        |  <location>outer</location>
        |  <meta><location>inner</location><status>Pending</status></meta>
        |</Record></Data>""".stripMargin)
    val schema = StructType(Seq(
      StructField("user", StringType),
      StructField("location", StringType),
      StructField("status", StringType)))
    val df = XmlRecordReader.read(spark, path, "Record", schema)
    val r = df.collect()(0)
    assert(r.getAs[String]("user") == "u1")
    assert(r.getAs[String]("location") == "inner", "nested overwrites parent")
    assert(r.getAs[String]("status") == "Pending", "lifted grandchild key")
  }

  test("repeated groups are NOT lifted — left as arrays for flatten") {
    val path = writeXml(
      """<Data><Record>
        |  <user>u1</user>
        |  <fnumbers><fnumber>F1</fnumber><scan_time>t1</scan_time></fnumbers>
        |  <fnumbers><fnumber>F2</fnumber><scan_time>t2</scan_time></fnumbers>
        |</Record></Data>""".stripMargin)
    val schema = StructType(Seq(
      StructField("user", StringType),
      StructField("fnumbers", ArrayType(StructType(Seq(
        StructField("fnumber", StringType),
        StructField("scan_time", StringType)))))))
    val df = XmlRecordReader.read(spark, path, "Record", schema)
    assert(df.select(size(col("fnumbers"))).collect()(0).getInt(0) == 2)
  }

  test("leaf CharData is trimmed; whitespace-only leaves become empty string") {
    val path = writeXml(
      "<Data><Record><user>  padded  </user><status>\n  </status></Record></Data>")
    val schema = StructType(Seq(
      StructField("user", StringType), StructField("status", StringType)))
    val r = XmlRecordReader.read(spark, path, "Record", schema).collect()(0)
    assert(r.getAs[String]("user") == "padded")
    assert(r.getAs[String]("status") == "")
  }

  test("multiple Record elements stream from one file") {
    val path = writeXml(
      "<Data>" + (1 to 50).map(i =>
        s"<Record><user>u$i</user><status>s</status></Record>").mkString + "</Data>")
    val schema = StructType(Seq(
      StructField("user", StringType), StructField("status", StringType)))
    assert(XmlRecordReader.read(spark, path, "Record", schema).count() == 50)
  }
}
