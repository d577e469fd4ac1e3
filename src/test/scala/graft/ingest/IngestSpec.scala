package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Golden tests against the reference's own fixtures (SURVEY.md §5):
  * test-loader.json → 20 flattened rows, test-loader.xml → 16. */
class IngestSpec extends SparkSpec {

  private val jsonFixture = "/root/reference/test-loader.json"
  private val xmlFixture = "/root/reference/test-loader.xml"

  private def pipeline(raw: org.apache.spark.sql.DataFrame) =
    JsonIngest.projectWhitelist(Flatten(raw), IngestSchema.sinkColumns,
      IngestSchema.flattened.fields.map(f => f.name -> f.dataType).toMap)

  test("JSON fixture flattens to 20 golden rows with duplicated base fields") {
    val df = pipeline(JsonIngest.read(spark, jsonFixture)).cache()
    try {
      assert(df.count() == 20)
      assert(df.columns.toSeq == IngestSchema.sinkColumns)
      // each record has 2 fnumbers → base fields duplicated across siblings
      val g = df.groupBy(col("json_hash")).count().collect()
      assert(g.forall(_.getLong(1) % 2 == 0))
    } finally df.unpersist()
  }

  test("JSON nulls survive: ast_name/local_id nullable per fixture") {
    val df = pipeline(JsonIngest.read(spark, jsonFixture))
    assert(df.filter(col("ast_name").isNull).count() > 0)
    assert(df.filter(col("local_id").isNull).count() > 0)
  }

  test("epoch fields are typed long, not float (the Go float64 hazard)") {
    val df = pipeline(JsonIngest.read(spark, jsonFixture))
    assert(df.schema("dt_created").dataType == LongType)
    assert(df.filter(col("dt_created") > 1600000000L).count() == 20)
  }

  test("XML fixture flattens to 16 golden rows via the StAX reader") {
    val df = pipeline(XmlRecordReader.read(spark, xmlFixture, "Record", IngestSchema.raw)).cache()
    try {
      assert(df.count() == 16)
      assert(df.filter(col("fnumber").startsWith("FN")).count() == 16)
      assert(df.schema("dt_created").dataType == LongType)
    } finally df.unpersist()
  }

  test("XML repeated-tag promotion produces the fnumbers array") {
    val raw = XmlRecordReader.read(spark, xmlFixture, "Record", IngestSchema.raw)
    val sizes = raw.select(size(col("fnumbers"))).collect().map(_.getInt(0))
    assert(sizes.forall(_ == 2), "every fixture record has 2 fnumbers groups")
  }

  test("XML and JSON paths converge on identical schemas") {
    val x = XmlRecordReader.read(spark, xmlFixture, "Record", IngestSchema.raw)
    val j = JsonIngest.read(spark, jsonFixture)
    assert(x.schema == j.schema)
  }

  test("whitelist projection warns-and-drops unknown columns, null-fills missing") {
    import spark.implicits._
    val df = Seq(("u1", "rogue")).toDF("user", "unmapped_col")
    val out = JsonIngest.projectWhitelist(df, IngestSchema.sinkColumns,
      IngestSchema.flattened.fields.map(f => f.name -> f.dataType).toMap)
    assert(out.columns.toSeq == IngestSchema.sinkColumns)
    assert(!out.columns.contains("unmapped_col"))
    assert(out.select(col("dt_created")).schema.head.dataType == LongType)
    assert(out.filter(col("fnumber").isNull).count() == 1)
  }

  test("data-schema.json mapping loads and applies renames") {
    val m = IngestSchema.mappingFromJson("/root/reference/data-schema.json", "Record")
    assert(m("dateCreated") == "dt_created")
    import spark.implicits._
    val renamed = JsonIngest.applyMapping(Seq(("x", 5L)).toDF("fileName", "dateCreated"), m)
    assert(renamed.columns.toSet == Set("filename", "dt_created"))
  }

  test("xlsx template reader extracts the 11 sink columns from row 3") {
    val cols = IngestSchema.columnsFromXlsx("/root/reference/db-template.xlsx")
    assert(cols == IngestSchema.sinkColumns)
  }

  test("columnsFromXlsx resolves the NAMED sheet in a multi-sheet workbook") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val p = tempDir("multi").resolve("multi.xlsx")
    val zos = new ZipOutputStream(java.nio.file.Files.newOutputStream(p))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    def sheetXml(cells: Seq[String]): String =
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row>""" +
        cells.map(c => s"""<c t="inlineStr"><is><t>$c</t></is></c>""").mkString +
        "</row></sheetData></worksheet>"
    put("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        """<sheets><sheet name="Other" sheetId="1" r:id="rId1"/><sheet name="Schema" sheetId="2" r:id="rId2"/></sheets></workbook>""")
    put("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/>""" +
        """<Relationship Id="rId2" Type="t" Target="worksheets/sheet2.xml"/></Relationships>""")
    // zip order puts the WRONG sheet last — the old last-entry heuristic
    // would pick sheet2 only by luck of ordering; assert name resolution
    put("xl/worksheets/sheet2.xml", sheetXml(Seq("right", "columns")))
    put("xl/worksheets/sheet1.xml", sheetXml(Seq("wrong", "cols")))
    zos.close()
    assert(IngestSchema.columnsFromXlsx(p.toString, sheet = "Schema", line = 1) ==
      Seq("right", "columns"))
    assert(IngestSchema.columnsFromXlsx(p.toString, sheet = "Other", line = 1) ==
      Seq("wrong", "cols"))
  }

  test("JSONL path: envelope records re-written as lines parse identically") {
    val env = pipeline(JsonIngest.read(spark, jsonFixture)).cache()
    try {
      // rewrite the fixture's records as JSON-Lines
      val lines = JsonIngest.read(spark, jsonFixture).toJSON.collect()
      val f = tempDir("recs").resolve("recs.jsonl")
      java.nio.file.Files.writeString(f, lines.mkString("\n"))
      val jl = pipeline(JsonIngest.readJsonl(spark, f.toString))
      assert(jl.collect().map(_.toString).sorted.toSeq ==
        env.collect().map(_.toString).sorted.toSeq)
    } finally env.unpersist()
  }

  test("xlsx writer round-trips through the xlsx reader") {
    import spark.implicits._
    val df = Seq(("a", 1L), ("b", 2L)).toDF("name", "v")
    val path = tempDir("xlsx").resolve("out.xlsx").toString
    Sinks.xlsx(df, path)
    // row 1 = header per our writer; read it back
    val cols = IngestSchema.columnsFromXlsx(path, line = 1)
    assert(cols == Seq("name", "v"))
  }
}
