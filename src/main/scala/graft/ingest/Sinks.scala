package graft.ingest

import java.io.{BufferedOutputStream, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.message.StringMapMessage
import org.apache.spark.sql.DataFrame

/** File sinks: CSV / JSON (stock Spark writers, fixed column order —
  * strictly better than the reference's Go-map-iteration header order,
  * fileloader-schema.go:527-573) and a dependency-free xlsx writer
  * (reference: ExportToExcel via excelize, :576-606).
  */
object Sinks {

  /** CSV export (reference ExportToCSV: headers + %v-stringified values,
    * missing keys → ""). emptyValue mirrors the missing-key → "" rule. */
  def csv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true")
      .option("emptyValue", "")
      .csv(path)

  /** JSON-lines export (reference ExportToJSON, :513-525). */
  def json(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Minimal xlsx writer: a zip of hand-built XML parts with inline
    * strings — no POI. Rows stream through `toLocalIterator` so the
    * driver never materializes the full dataset (the reference's Excel
    * export is whole-file in memory; this is the bounded-memory form).
    * xlsx is a driver-side exchange format, not a data-scale sink —
    * capped at `maxRows` to keep it honest; a cap that drops rows warns
    * (`event=xlsx_truncated`). */
  def xlsx(df: DataFrame, path: String, sheet: String = "Sheet1",
      maxRows: Int = 1000000): Unit = {
    val cols = df.columns
    val zos = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    put("[Content_Types].xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
        |<Default Extension="xml" ContentType="application/xml"/>
        |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
        |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
        |</Types>""".stripMargin)
    put("_rels/.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
        |</Relationships>""".stripMargin)
    put("xl/workbook.xml",
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
         |<sheets><sheet name="${xml(sheet)}" sheetId="1" r:id="rId1"/></sheets>
         |</workbook>""".stripMargin)
    put("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
        |</Relationships>""".stripMargin)

    zos.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
    def w(s: String): Unit = zos.write(s.getBytes("UTF-8"))
    w("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    w("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    def row(values: Seq[String]): Unit = {
      w("<row>")
      values.foreach(v => w(s"""<c t="inlineStr"><is><t>${xml(v)}</t></is></c>"""))
      w("</row>")
    }
    row(cols.toSeq)
    val it = df.toLocalIterator()
    var n = 0
    while (it.hasNext && n < maxRows) {
      val r = it.next()
      row(cols.indices.map(i => if (r.isNullAt(i)) "" else String.valueOf(r.get(i))))
      n += 1
    }
    if (it.hasNext) {
      // rows past the cap are dropped: say so, never silently
      LogManager.getLogger("graft.ingest").warn(new StringMapMessage()
        .`with`("event", "xlsx_truncated")
        .`with`("path", path)
        .`with`("rows", n.toString))
      System.err.println(s"[ingest] xlsx export truncated at $n rows: $path")
    }
    w("</sheetData></worksheet>")
    zos.closeEntry()
    zos.close()
  }

  private def xml(s: String): String = s
    .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    .replace("\"", "&quot;")
}
