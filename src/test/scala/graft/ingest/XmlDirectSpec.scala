package graft.ingest

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.types._

/** The direct-Row XML fast path must be semantically identical to the
  * canonical StAX→JSON→Spark-JSON path. */
class XmlDirectSpec extends SparkSpec {

  private def bothPaths(path: String, schema: StructType) = (
    XmlRecordReader.readDirect(spark, path, "Record", schema),
    XmlRecordReader.readViaJson(spark, path, "Record", schema))

  private def assertEqualSets(path: String, schema: StructType): Unit = {
    val (d, j) = bothPaths(path, schema)
    assert(d.schema == j.schema)
    val ds = d.collect().map(_.toString).sorted.toSeq
    val js = j.collect().map(_.toString).sorted.toSeq
    assert(ds == js, s"direct vs json mismatch for $path")
  }

  test("fixture: direct path equals JSON path") {
    assertEqualSets("/root/reference/test-loader.xml", IngestSchema.raw)
  }

  test("edge cases: bad numbers, missing fields, type mismatches → null in both") {
    val f = tempDir("direct").resolve("direct.xml")
    Files.writeString(f,
      """<Data>
        |<Record><user>u1</user><dt_created>notanumber</dt_created></Record>
        |<Record><user>u2</user><dt_created> 42 </dt_created>
        |  <fnumbers><fnumber>F1</fnumber><scan_time>t</scan_time></fnumbers>
        |  <fnumbers><fnumber>F2</fnumber><scan_time>t</scan_time></fnumbers>
        |</Record>
        |<Record><status>only-status</status></Record>
        |</Data>""".stripMargin)
    assertEqualSets(f.toString, IngestSchema.raw)
  }

  test("randomized documents: both paths agree") {
    val rnd = new scala.util.Random(11)
    val f = tempDir("direct_rand").resolve("direct_rand.xml")
    val sb = new StringBuilder("<Data>")
    (1 to 200).foreach { i =>
      sb.append("<Record>")
      sb.append(s"<user>u$i</user>")
      if (rnd.nextBoolean()) sb.append(s"<dt_created>${rnd.nextLong(1000000)}</dt_created>")
      if (rnd.nextBoolean()) sb.append(s"<ast_name>a${rnd.nextInt(10)}</ast_name>")
      (0 until rnd.nextInt(4)).foreach { j =>
        sb.append(s"<fnumbers><fnumber>F$i-$j</fnumber><scan_time>t$j</scan_time></fnumbers>")
      }
      sb.append("</Record>")
    }
    sb.append("</Data>")
    Files.writeString(f, sb.toString)
    assertEqualSets(f.toString, IngestSchema.raw)
  }
}
