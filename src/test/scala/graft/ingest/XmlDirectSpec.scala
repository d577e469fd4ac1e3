package graft.ingest

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The XML reader (the DataSource V2 source) must be semantically
  * identical to the canonical StAX→JSON→Spark-JSON path, also when the
  * plan prunes the columns it reads. */
class XmlDirectSpec extends SparkSpec {

  private def assertEqualSets(path: String, schema: StructType,
      columns: Seq[String] = Nil): Unit = {
    def cols(df: DataFrame) = if (columns.isEmpty) df else df.select(columns.map(col): _*)
    val d = cols(XmlRecordReader.read(spark, path, "Record", schema))
    val j = cols(XmlRecordReader.readViaJson(spark, path, "Record", schema))
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

  /** 200 records: a user each, a dt_created and an ast_name each half
    * the time, and 0-3 fnumbers. */
  private lazy val randomDoc: String = {
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
    f.toString
  }

  test("randomized documents: both paths agree") {
    assertEqualSets(randomDoc, IngestSchema.raw)
  }

  test("a pruned read equals the same columns of the JSON path, and the pruning reaches the scan") {
    val columns = Seq("user", "dt_created", "fnumbers")
    assertEqualSets(randomDoc, IngestSchema.raw, columns)
    val plan = XmlRecordReader.read(spark, randomDoc, "Record", IngestSchema.raw)
      .select(columns.map(col): _*).queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema=struct<user:string,dt_created:bigint,fnumbers:array"),
      s"expected a pruned ReadSchema in the plan:\n$plan")
  }
}
