package graft.ingest

import java.nio.file.{Files, Paths}
import java.util.zip.ZipFile
import javax.xml.parsers.DocumentBuilderFactory
import scala.collection.mutable.ArrayBuffer
import graft.SparkSpec
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.message.StringMapMessage
import org.apache.spark.sql.functions._

/** File-sink edge semantics + archival lifecycle. */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("csv sink: header row, empty string for missing values (reference rule)") {
    val dir = tempDir("csv_sink").resolve("out").toString
    Seq(("a", Some("x")), ("b", None)).toDF("k", "v")
      .select(col("k"), col("v")).coalesce(1).createOrReplaceTempView("t")
    Sinks.csv(spark.table("t").coalesce(1), dir)
    val lines = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".csv"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq)
    assert(lines.head == "k,v")
    assert(lines.contains("a,x"))
    assert(lines.contains("b,\"\"") || lines.contains("b,"), s"got: ${lines.toSeq}")
  }

  test("json sink round-trips through spark.read.json") {
    val dir = tempDir("json_sink").resolve("out").toString
    val df = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    Sinks.json(df, dir)
    val back = spark.read.json(dir)
    assert(back.count() == 2)
    assert(back.select(sum(col("v"))).collect()(0).getLong(0) == 3L)
  }

  /** The worksheet of an xlsx file: its raw XML and its rows of cell texts. */
  private def sheet(path: String): (String, Seq[Seq[String]]) = {
    val zip = new ZipFile(path)
    val xml = try new String(zip.getInputStream(
      zip.getEntry("xl/worksheets/sheet1.xml")).readAllBytes(), "UTF-8") finally zip.close()
    val doc = DocumentBuilderFactory.newInstance().newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
    def children(n: org.w3c.dom.Node, tag: String) = {
      val l = n.asInstanceOf[org.w3c.dom.Element].getElementsByTagName(tag)
      (0 until l.getLength).map(l.item)
    }
    (xml, children(doc.getDocumentElement, "row").map(children(_, "t").map(_.getTextContent)))
  }

  /** The `graft.ingest` structured log events `f` emits. */
  private def ingestEvents(f: => Unit): Seq[StringMapMessage] = {
    val got = ArrayBuffer[StringMapMessage]()
    val appender = new AbstractAppender("sinks-spec", null, null, true, null) {
      override def append(e: LogEvent): Unit = e.getMessage match {
        case m: StringMapMessage => got.synchronized(got += m)
        case _ =>
      }
    }
    appender.start()
    val logger = LogManager.getLogger("graft.ingest").asInstanceOf[Logger]
    logger.addAppender(appender)
    try f finally { logger.removeAppender(appender); appender.stop() }
    got.synchronized(got.toSeq)
  }

  private lazy val threeRows = Seq(
    ("a&b", Some("<x>"), 1L), ("c", None, 2L), ("\"q\" > p", Some(""), 3L))
    .toDF("name", "tag", "n").coalesce(1)

  test("xlsx sink: header, row order, null as an empty cell, XML escaping") {
    val path = tempDir("xlsx_sink").resolve("out.xlsx").toString
    val events = ingestEvents(Sinks.xlsx(threeRows, path))
    val (xml, rows) = sheet(path)
    assert(rows == Seq(Seq("name", "tag", "n"), Seq("a&b", "<x>", "1"),
      Seq("c", "", "2"), Seq("\"q\" > p", "", "3")))
    Seq("a&amp;b", "&lt;x&gt;", "&quot;q&quot; &gt; p").foreach(e => assert(xml.contains(e), e))
    assert(!events.exists(_.get("event") == "xlsx_truncated"))
  }

  test("xlsx sink: a row cap that drops rows warns with the rows written") {
    val path = tempDir("xlsx_cap").resolve("out.xlsx").toString
    val events = ingestEvents(Sinks.xlsx(threeRows, path, maxRows = 2))
    assert(sheet(path)._2.map(_.head) == Seq("name", "a&b", "c"))
    val warned = events.filter(_.get("event") == "xlsx_truncated")
    assert(warned.map(_.get("rows")) == Seq("2"))
    // a frame that fits the cap exactly drops nothing and does not warn
    val fits = ingestEvents(Sinks.xlsx(threeRows.limit(2), path, maxRows = 2))
    assert(!fits.exists(_.get("event") == "xlsx_truncated"))
  }

  test("archive move: creates destination dirs, removes the source") {
    val src = tempDir("arch").resolve("arch.txt")
    Files.writeString(src, "payload")
    val destRoot = tempDir("arch_dest").resolve("a/b/c")
    val moved = Archive.moveInputFile(src.toString, destRoot.toString)
    assert(!Files.exists(src))
    assert(Files.exists(moved))
    assert(Files.readString(moved) == "payload")
  }

  test("archive move replaces an existing file at the destination") {
    val src = tempDir("arch2").resolve("arch2.txt")
    Files.writeString(src, "new")
    val destRoot = tempDir("arch_dest2")
    val existing = destRoot.resolve(src.getFileName.toString)
    Files.writeString(existing, "old")
    val moved = Archive.moveInputFile(src.toString, destRoot.toString)
    assert(Files.readString(moved) == "new")
  }
}
