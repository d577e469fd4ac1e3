package graft.ingest

import java.nio.file.{Files, Path}
import java.util.zip.ZipFile
import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The one-job `Sinks.exportFiles` against the stock writers it replaced,
  * kept here as the oracle: every file `df.write.mode("overwrite")
  * .csv/json` leaves, part files byte for byte, with the job's UUID in
  * the file names masked; and the sheet rows of the previous xlsx writer,
  * which streamed rows through `toLocalIterator`. */
class ExportEquivalenceSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("user", StringType),
    StructField("dt_created", LongType),
    StructField("dt_submitted", LongType),
    StructField("ast_name", StringType),
    StructField("fnumber", StringType)))

  /** Nulls, empty strings, commas, quotes, newlines, non-ASCII text, a
    * 300-character value, edge whitespace and BIGINT `dt_*` values. */
  private val rows = Seq(
    Row("u1", 1700000001L, 1700000002L, "plain", "F1"),
    Row(null, null, null, null, null),
    Row("", 0L, -1L, "", ""),
    Row("a,b", Long.MaxValue, Long.MinValue, "x,,y", ","),
    Row("say \"hi\"", 42L, null, "\"", "'single'"),
    Row("line1\nline2", 7L, 8L, "cr\r\nlf", "\n"),
    Row("Zürich ✓", 9L, 10L, "日本語", "emoji 😀"),
    Row("x" * 300, 11L, 12L, "y" * 300, " padded "),
    Row("<tag>&amp;", 13L, 14L, "back\\slash", "tab\there"))

  /** The frame under test: 1 or 3 partitions, or empty with 0 or 3. */
  private def frame(name: String): DataFrame = {
    val sc = spark.sparkContext
    val rdd = name match {
      case "1 partition" => sc.parallelize(rows, 1)
      case "3 partitions" => sc.parallelize(rows, 3)
      case "empty" => sc.emptyRDD[Row]
      case "empty, 3 partitions" => sc.parallelize(Seq.empty[Row], 3)
    }
    spark.createDataFrame(rdd, schema)
  }

  private val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Every file under `dir`: its name with UUIDs masked → its bytes. */
  private def files(dir: Path): Map[String, Seq[Byte]] = {
    val all = Files.list(dir)
    try all.iterator().asScala.map(p =>
      uuid.replaceAllIn(p.getFileName.toString, "<uuid>") -> Files.readAllBytes(p).toSeq).toMap
    finally all.close()
  }

  /** The previous xlsx writer's worksheet XML: each row fetched through
    * `toLocalIterator`, each cell `String.valueOf` of the external value,
    * escaping `& < > "` only. */
  private def legacySheet(df: DataFrame): String = {
    def xml(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")
    val sb = new StringBuilder(
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    def row(values: Seq[String]): Unit = {
      sb ++= "<row>"
      values.foreach(v => sb ++= s"""<c t="inlineStr"><is><t>${xml(v)}</t></is></c>""")
      sb ++= "</row>"
    }
    val cols = df.columns
    row(cols.toSeq)
    val it = df.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      row(cols.indices.map(i => if (r.isNullAt(i)) "" else String.valueOf(r.get(i))))
    }
    sb ++= "</sheetData></worksheet>"
    sb.toString
  }

  private def sheetXml(path: Path): String = {
    val zip = new ZipFile(path.toFile)
    try new String(zip.getInputStream(zip.getEntry("xl/worksheets/sheet1.xml")).readAllBytes(),
      "UTF-8")
    finally zip.close()
  }

  for (name <- Seq("1 partition", "3 partitions", "empty", "empty, 3 partitions")) {
    test(s"$name: the export's files equal the stock writers' and the old sheet") {
      val df = frame(name)
      val fused = tempDir("export_eq_fused")
      val stock = tempDir("export_eq_stock")
      val n = Sinks.exportFiles(df, fused.toString)
      df.write.mode("overwrite").option("header", "true").option("emptyValue", "")
        .csv(stock.resolve("csv").toString)
      df.write.mode("overwrite").json(stock.resolve("json").toString)
      assert(n == df.count())
      for (sub <- Seq("csv", "json")) {
        val (got, want) = (files(fused.resolve(sub)), files(stock.resolve(sub)))
        assert(got.keySet == want.keySet, sub)
        assert(want.keys.exists(_.startsWith("part-")), s"$sub: ${want.keySet}")
        for (k <- want.keys) assert(got(k) == want(k), s"$sub/$k")
      }
      assert(SinksSpec.rows(sheetXml(fused.resolve("export.xlsx"))) ==
        SinksSpec.rows(legacySheet(df)))
    }
  }
}
