package graft.ingest

import java.nio.file.Files
import java.util.zip.ZipFile
import javax.xml.parsers.DocumentBuilderFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.message.StringMapMessage
import org.apache.spark.sql.functions._

/** Export edge semantics + archival lifecycle. */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  /** Lines of the part files under `dir`, in part order. */
  private def partLines(dir: java.nio.file.Path): Seq[String] =
    Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.getFileName.toString)
      .toSeq.flatMap(f => Files.readAllLines(f).toArray.map(_.toString))

  test("csv sink: header row, empty string for missing values (reference rule)") {
    val dir = tempDir("csv_sink")
    Sinks.exportFiles(Seq(("a", Some("x")), ("b", None)).toDF("k", "v").coalesce(1),
      dir.toString)
    val lines = partLines(dir.resolve("csv"))
    assert(lines.head == "k,v")
    assert(lines.contains("a,x"))
    assert(lines.contains("b,\"\"") || lines.contains("b,"), s"got: $lines")
  }

  test("json sink round-trips through spark.read.json") {
    val dir = tempDir("json_sink")
    assert(Sinks.exportFiles(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), dir.toString) == 2)
    val back = spark.read.json(dir.resolve("json").toString)
    assert(back.count() == 2)
    assert(back.select(sum(col("v"))).collect()(0).getLong(0) == 3L)
  }

  /** The worksheet of an xlsx file: its raw XML and its rows of cell texts. */
  private def sheet(path: String): (String, Seq[Seq[String]]) = {
    val zip = new ZipFile(path)
    val xml = try new String(zip.getInputStream(
      zip.getEntry("xl/worksheets/sheet1.xml")).readAllBytes(), "UTF-8") finally zip.close()
    (xml, SinksSpec.rows(xml))
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

  /** The sheet of the workbook `Sinks.exportFiles` leaves in `dir`. */
  private def exported(dir: java.nio.file.Path) = sheet(dir.resolve("export.xlsx").toString)

  test("xlsx sink: header, row order, null as an empty cell, XML escaping") {
    val dir = tempDir("xlsx_sink")
    val events = ingestEvents(Sinks.exportFiles(threeRows, dir.toString))
    val (xml, rows) = exported(dir)
    assert(rows == Seq(Seq("name", "tag", "n"), Seq("a&b", "<x>", "1"),
      Seq("c", "", "2"), Seq("\"q\" > p", "", "3")))
    Seq("a&amp;b", "&lt;x&gt;", "&quot;q&quot; &gt; p").foreach(e => assert(xml.contains(e), e))
    assert(!events.exists(_.get("event") == "xlsx_truncated"))
  }

  test("xlsx sink: an XML-illegal character reads back as U+FFFD, edge " +
      "whitespace is kept") {
    val dir = tempDir("xlsx_illegal")
    Sinks.exportFiles(Seq("\u0001x", " padded ", "ok\uFFFE", "\uD83D\uDE00")
      .toDF("v").coalesce(1), dir.toString)
    val (xml, rows) = exported(dir)
    assert(rows.map(_.head) == Seq("v", "\uFFFDx", " padded ", "ok\uFFFD", "\uD83D\uDE00"))
    // Excel trims a <t>'s edge spaces unless the cell says to keep them
    assert(xml.contains("""<t xml:space="preserve"> padded </t>"""))
    assert(xml.contains("<t>ok\uFFFD</t>"))
  }

  test("xlsx sink: a row cap that drops rows warns with the rows written") {
    // one fragment, and three fragments of which the cap cuts the second
    val spread = spark.range(0, 5, 1, 3).select(col("id").cast("string").as("name"))
    for ((frame, first) <- Seq(threeRows -> Seq("name", "a&b", "c"),
        spread -> Seq("name", "0", "1"))) {
      val dir = tempDir("xlsx_cap")
      val events = ingestEvents(Sinks.exportFiles(frame, dir.toString, maxRows = 2))
      assert(exported(dir)._2.map(_.head) == first)
      val warned = events.filter(_.get("event") == "xlsx_truncated")
      assert(warned.map(_.get("rows")) == Seq("2"))
    }
    // a frame that fits the cap exactly drops nothing and does not warn
    val dir = tempDir("xlsx_fits")
    val fits = ingestEvents(Sinks.exportFiles(threeRows.limit(2), dir.toString, maxRows = 2))
    assert(exported(dir)._2.size == 3)
    assert(!fits.exists(_.get("event") == "xlsx_truncated"))
  }

  /** Every path under `dir`, relative to it. */
  private def tree(dir: java.nio.file.Path): Seq[String] = {
    val all = Files.walk(dir)
    try all.iterator().asScala.map(p => dir.relativize(p).toString).filter(_.nonEmpty)
      .toSeq.sorted
    finally all.close()
  }

  test("export replaces what an earlier export left") {
    val dir = tempDir("export_again")
    Sinks.exportFiles(spark.range(0, 6, 1, 3).toDF("n"), dir.toString)
    Sinks.exportFiles(Seq(7L).toDF("n"), dir.toString)
    assert(partLines(dir.resolve("csv")) == Seq("n", "7"))
    assert(partLines(dir.resolve("json")) == Seq("""{"n":7}"""))
    assert(exported(dir)._2 == Seq(Seq("n"), Seq("7")))
    assert(!tree(dir).exists(_.contains("_xlsx-")), tree(dir))
  }

  test("a failing export propagates and leaves no fragment or temporary file") {
    val dir = tempDir("export_fails")
    val boom = spark.range(0, 9, 1, 3).toDF("n")
      .select(when(col("n") === 4, raise_error(lit("boom"))).otherwise(col("n")).as("n"))
    val err = intercept[Exception](Sinks.exportFiles(boom, dir.toString))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("boom")), err)
    assert(tree(dir).forall(p => p == "csv" || p == "json"), tree(dir))
  }

  test("a task attempt that fails is retried, and its files are gone") {
    import org.apache.spark.TaskContext
    val failOnce = udf { (n: Long) =>
      if (n == 4 && TaskContext.get().attemptNumber() == 0) sys.error("first attempt")
      n
    }
    val dir = tempDir("export_retry")
    val n = Sinks.exportFiles(
      spark.range(0, 9, 1, 3).toDF("n").select(failOnce(col("n")).as("n")), dir.toString)
    assert(n == 9)
    assert(partLines(dir.resolve("csv")).filter(_ != "n") == (0 until 9).map(_.toString))
    assert(exported(dir)._2.tail.map(_.head) == (0 until 9).map(_.toString))
    assert(tree(dir).filter(_.contains("part-")).size == 2 * 2 * 3, tree(dir)) // files and .crc
    assert(!tree(dir).exists(p => p.contains("_xlsx-") || p.contains("_temporary")), tree(dir))
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

object SinksSpec {
  /** The rows of cell texts of a worksheet's XML, parsed with javax.xml. */
  def rows(xml: String): Seq[Seq[String]] = {
    val doc = DocumentBuilderFactory.newInstance().newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
    def children(n: org.w3c.dom.Node, tag: String) = {
      val l = n.asInstanceOf[org.w3c.dom.Element].getElementsByTagName(tag)
      (0 until l.getLength).map(l.item)
    }
    children(doc.getDocumentElement, "row").map(children(_, "t").map(_.getTextContent))
  }
}
