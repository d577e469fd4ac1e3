package graft.ingest

import java.io.{BufferedOutputStream, BufferedWriter, FileOutputStream, InputStream,
  OutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.{Date, UUID}
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{Job, JobID, OutputCommitter, TaskAttemptContext,
  TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.message.StringMapMessage
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.internal.io.FileNameSpec
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory,
  PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriter,
  OutputWriterFactory, SQLHadoopMapReduceCommitProtocol}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** File sinks: CSV and JSON-lines through Spark's own file formats, in a
  * fixed column order (strictly better than the reference's
  * Go-map-iteration header order, fileloader-schema.go:527-573), and a
  * dependency-free xlsx workbook (reference: ExportToExcel via excelize,
  * :576-606). All three come from ONE Spark job over the rows, as the
  * reference reads each record once and fans it out to its sinks.
  */
object Sinks {

  /** CSV options (reference ExportToCSV: headers + %v-stringified values,
    * missing keys → ""). emptyValue mirrors the missing-key → "" rule. */
  private val csvOptions = Map("header" -> "true", "emptyValue" -> "")

  /** Exports `df` in one Spark job and returns the rows it exported:
    *  - `<dir>/csv` and `<dir>/json` hold, for each partition, the part
    *    file `df.write.mode("overwrite").csv/json` writes for it (CSV
    *    with a header, `emptyValue=""`; JSON-lines with the defaults);
    *  - `<dir>/export.xlsx` holds a header row and the rows in order,
    *    capped at `maxRows`. xlsx is a driver-side exchange format, not a
    *    data-scale sink; a cap that drops rows warns
    *    (`event=xlsx_truncated`).
    *
    * Each task writes its partition's CSV and JSON part files and an
    * xlsx fragment of sheet rows. The driver commits once: both
    * directories, each through its own Spark commit protocol, then the
    * fragments, in partition order, into the workbook. Existing outputs
    * are replaced; a failed job leaves no temporary file behind. The job
    * runs over `df`'s own physical plan ([[GraftBridge.write]]), so a
    * later write of the same `df` runs over that plan too. */
  def exportFiles(df: DataFrame, dir: String, maxRows: Int = 1000000): Long = {
    val export = new ExportWrite(df.sparkSession, dir, df.schema, maxRows)
    GraftBridge.write(df, export)
    export.rows
  }

  /** Spark's SQL commit protocol without its own ask to the commit
    * coordinator. The coordinator lets one attempt per partition commit,
    * once: the export task asks it once for its three outputs, so a
    * second ask, from the second directory, would be refused. */
  private final class ExportCommitProtocol(jobId: String, path: String)
      extends SQLHadoopMapReduceCommitProtocol(jobId, path) {
    @transient private var mr: OutputCommitter = _
    override protected def setupCommitter(ctx: TaskAttemptContext): OutputCommitter = {
      mr = super.setupCommitter(ctx)
      mr
    }
    override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage = {
      if (mr.needsTaskCommit(ctx)) mr.commitTask(ctx)
      new TaskCommitMessage(Map.empty[String, String] -> Set.empty[String])
    }
  }

  /** One output directory of the export, what a task needs of it: the
    * commit protocol, the format's writer factory and the job's Hadoop
    * configuration. */
  private final case class DirWrite(committer: ExportCommitProtocol,
      factory: OutputWriterFactory, conf: SerializableConfiguration)

  /** Sets up the write of `path` in `format`, as `df.write` does for a
    * file source: the Hadoop job over the session's configuration
    * `conf` with `options` set, the format's `prepareWrite` and the
    * commit protocol's job set-up. */
  private def dirWrite(spark: SparkSession, conf: Configuration, format: FileFormat,
      options: Map[String, String], path: String, schema: StructType): (Job, DirWrite) = {
    val job = Job.getInstance(conf)
    options.foreach { case (k, v) => job.getConfiguration.set(k, v) }
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, new HPath(path))
    val factory = format.prepareWrite(spark, job, options, schema)
    val committer = new ExportCommitProtocol(UUID.randomUUID().toString, path)
    committer.setupJob(job)
    (job, DirWrite(committer, factory, new SerializableConfiguration(job.getConfiguration)))
  }

  /** The driver side of the export job; `rows` is what it committed. */
  private final class ExportWrite(spark: SparkSession, dir: String, schema: StructType,
      maxRows: Int) extends BatchWrite {
    var rows = -1L
    private val fragments = Paths.get(dir, s"_xlsx-${UUID.randomUUID()}")
    /** the directories' jobs set up so far: csv, then json */
    private val jobs = scala.collection.mutable.ArrayBuffer[(Job, DirWrite)]()

    /** Replaces what an earlier export left, as mode "overwrite" does,
      * and sets up both directories' jobs and the fragment directory. */
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
      val conf = GraftBridge.hadoopConf(spark)
      for (sub <- Seq("csv", "json", "export.xlsx")) {
        val p = new HPath(dir, sub)
        p.getFileSystem(conf).delete(p, true)
      }
      Files.createDirectories(fragments)
      jobs += dirWrite(spark, conf, new CSVFileFormat, csvOptions, s"$dir/csv", schema)
      jobs += dirWrite(spark, conf, new JsonFileFormat, Map.empty, s"$dir/json", schema)
      ExportFactory(jobs(0)._2, jobs(1)._2, fragments.toString, schema, maxRows,
        new Date().getTime.toString)
    }

    override def useCommitCoordinator(): Boolean = true

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val parts = messages.toSeq.map(_.asInstanceOf[ExportMessage])
      val Seq((csvJob, csv), (jsonJob, json)) = jobs.toSeq
      csv.committer.commitJob(csvJob, parts.map(_.csv))
      json.committer.commitJob(jsonJob, parts.map(_.json))
      writeWorkbook(s"$dir/export.xlsx", schema.fieldNames.toSeq,
        parts.map(p => Paths.get(p.fragment) -> p.rows), maxRows)
      FileUtils.deleteDirectory(fragments.toFile)
      rows = parts.map(_.rows).sum
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      try jobs.foreach { case (job, d) => d.committer.abortJob(job) }
      finally FileUtils.deleteQuietly(fragments.toFile)
  }

  /** What a task of the export job needs; `tracker` names the Hadoop job
    * its task attempts belong to. */
  private final case class ExportFactory(csv: DirWrite, json: DirWrite, fragments: String,
      schema: StructType, maxRows: Int, tracker: String) extends DataWriterFactory {
    override def createWriter(partition: Int, taskId: Long): DataWriter[InternalRow] =
      new ExportTask(this, partition)
  }

  /** A task's commit message: both directories' task commits, its xlsx
    * fragment and the rows it exported (the fragment holds the first
    * `maxRows` of them). */
  private final case class ExportMessage(csv: TaskCommitMessage, json: TaskCommitMessage,
      fragment: String, rows: Long) extends WriterCommitMessage

  /** One task's part files in one directory. As in `df.write`, partition
    * 0 always writes its file and a later empty partition writes none. */
  private final class DirTask(d: DirWrite, tracker: String, partition: Int, schema: StructType) {
    private val ctx: TaskAttemptContext = {
      val tc = TaskContext.get()
      val attempt = new TaskAttemptID(
        new TaskID(new JobID(tracker, tc.stageId()), TaskType.MAP, partition), tc.attemptNumber())
      val conf = d.conf.value
      conf.set("mapreduce.job.id", attempt.getJobID.toString)
      conf.set("mapreduce.task.id", attempt.getTaskID.toString)
      conf.set("mapreduce.task.attempt.id", attempt.toString)
      conf.setBoolean("mapreduce.task.ismap", true)
      conf.setInt("mapreduce.task.partition", 0)
      new TaskAttemptContextImpl(conf, attempt)
    }
    d.committer.setupTask(ctx)
    private var out: OutputWriter = if (partition == 0) open() else null

    private def open(): OutputWriter = {
      val name = FileNameSpec("", "-c000" + d.factory.getFileExtension(ctx))
      d.factory.newInstance(d.committer.newTaskTempFile(ctx, None, name), schema, ctx)
    }

    def write(row: InternalRow): Unit = {
      if (out == null) out = open()
      out.write(row)
    }

    def close(): Unit = if (out != null) try out.close() finally out = null

    def commit(): TaskCommitMessage = { close(); d.committer.commitTask(ctx) }

    def abort(): Unit = try close() finally d.committer.abortTask(ctx)
  }

  /** One task of the export job: each row goes to the CSV and JSON part
    * files and, up to the cap, to the xlsx fragment. */
  private final class ExportTask(f: ExportFactory, partition: Int) extends DataWriter[InternalRow] {
    private val csv = new DirTask(f.csv, f.tracker, partition, f.schema)
    private val json = new DirTask(f.json, f.tracker, partition, f.schema)
    private val fragment =
      Paths.get(f.fragments, s"$partition-${TaskContext.get().attemptNumber()}")
    private var sheet: Writer = new BufferedWriter(
      new OutputStreamWriter(Files.newOutputStream(fragment), UTF_8), 1 << 16)
    private val cells: Array[InternalRow => String] = f.schema.fields.zipWithIndex.map {
      case (field, i) =>
        val toScala = CatalystTypeConverters.createToScalaConverter(field.dataType)
        (r: InternalRow) => if (r.isNullAt(i)) "" else String.valueOf(toScala(r.get(i, field.dataType)))
    }
    private var rows = 0L

    override def write(row: InternalRow): Unit = {
      csv.write(row)
      json.write(row)
      if (rows < f.maxRows) sheetRow(sheet, cells.iterator.map(_(row)))
      rows += 1
    }

    private def closeSheet(): Unit = if (sheet != null) try sheet.close() finally sheet = null

    override def commit(): WriterCommitMessage = {
      closeSheet()
      ExportMessage(csv.commit(), json.commit(), fragment.toString, rows)
    }

    override def abort(): Unit =
      try csv.abort()
      finally try json.abort()
      finally try closeSheet() finally Files.deleteIfExists(fragment)

    override def close(): Unit =
      try csv.close() finally try json.close() finally closeSheet()
  }

  /** The worksheet row of `values`: inline-string cells. */
  private def sheetRow(out: Writer, values: Iterator[String]): Unit = {
    out.write("<row>")
    values.foreach { v =>
      // a spreadsheet trims a <t>'s edge whitespace unless told to keep it
      val edge = v.nonEmpty && (xmlSpace(v.head) || xmlSpace(v.last))
      out.write(if (edge) """<c t="inlineStr"><is><t xml:space="preserve">"""
        else """<c t="inlineStr"><is><t>""")
      xmlText(out, v)
      out.write("</t></is></c>")
    }
    out.write("</row>")
  }

  private def xmlSpace(c: Char): Boolean = c == ' ' || c == '\t' || c == '\n' || c == '\r'

  /** Writes `s` as XML character data: `& < > "` escaped, and every
    * character outside XML 1.0's `Char` range (the control characters
    * but tab, LF and CR; U+FFFE and U+FFFF) replaced with U+FFFD, as Go's
    * encoding/xml, which the reference writes through, does. A string
    * out of Spark holds no lone surrogate: decoding replaces them. */
  private def xmlText(out: Writer, s: String): Unit = {
    var done = 0 // s up to `done` is written
    var i = 0
    while (i < s.length) {
      val sub = s.charAt(i) match {
        case '&' => "&amp;"
        case '<' => "&lt;"
        case '>' => "&gt;"
        case '"' => "&quot;"
        case '\t' | '\n' | '\r' => null
        case c if c < 0x20 || c >= 0xFFFE => "\uFFFD"
        case _ => null
      }
      if (sub != null) {
        out.write(s, done, i - done)
        out.write(sub)
        done = i + 1
      }
      i += 1
    }
    out.write(s, done, s.length - done)
  }

  /** The workbook at `path`: a zip of hand-built XML parts with inline
    * strings, no POI. Its one sheet is a header row of `cols`, then the
    * fragments' rows in order, copied in blocks, up to `maxRows`; each
    * fragment comes with the rows its task exported. */
  private def writeWorkbook(path: String, cols: Seq[String], fragments: Seq[(Path, Long)],
      maxRows: Int): Unit = {
    val zos = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(path), 1 << 16))
    try {
      def put(name: String, content: String): Unit = {
        zos.putNextEntry(new ZipEntry(name))
        zos.write(content.getBytes(UTF_8))
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
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
          |<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>
          |</workbook>""".stripMargin)
      put("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
          |</Relationships>""".stripMargin)

      zos.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
      val head = new java.io.StringWriter()
      head.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      head.write("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
      sheetRow(head, cols.iterator)
      zos.write(head.toString.getBytes(UTF_8))
      val buf = new Array[Byte](1 << 16)
      var left = maxRows.toLong
      for ((fragment, rows) <- fragments if left > 0) {
        val in = Files.newInputStream(fragment)
        try {
          if (rows <= left) copy(in, zos, buf) else copyRows(in, zos, left)
        } finally in.close()
        left -= math.min(rows, left)
      }
      zos.write("</sheetData></worksheet>".getBytes(UTF_8))
      zos.closeEntry()
    } finally zos.close()
    val total = fragments.map(_._2).sum
    if (total > maxRows) {
      // rows past the cap are dropped: say so, never silently
      LogManager.getLogger("graft.ingest").warn(new StringMapMessage()
        .`with`("event", "xlsx_truncated")
        .`with`("path", path)
        .`with`("rows", maxRows.toString))
      System.err.println(s"[ingest] xlsx export truncated at $maxRows rows: $path")
    }
  }

  private def copy(in: InputStream, out: OutputStream, buf: Array[Byte]): Unit = {
    var n = in.read(buf)
    while (n >= 0) {
      out.write(buf, 0, n)
      n = in.read(buf)
    }
  }

  /** Copies the first `k` rows of a fragment. Cell text is escaped, so
    * "</row>" only ever closes a row. */
  private def copyRows(in: InputStream, out: OutputStream, k: Long): Unit = {
    val end = "</row>".getBytes(UTF_8)
    val src = new java.io.BufferedInputStream(in, 1 << 16)
    val dst = new BufferedOutputStream(out, 1 << 16)
    var left = k
    var matched = 0
    var b = if (left > 0) src.read() else -1
    while (b >= 0) {
      dst.write(b)
      matched = if (b == end(matched)) matched + 1 else if (b == end(0)) 1 else 0
      if (matched == end.length) { left -= 1; matched = 0 }
      b = if (left > 0) src.read() else -1
    }
    dst.flush()
  }
}
