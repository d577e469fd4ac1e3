package perfbench

import java.io.File
import java.sql.{Connection, DriverManager}
import scala.collection.mutable
import graft.ingest._

/** `ingest_files`: the reference pipeline, one envelope file per
  * request. Each file is `graft.Main.run` with `--export-dir` and
  * `--jdbc` into embedded Derby, then `Archive.moveInputFile` into a
  * directory the benchmark owns. Every outcome is checked against the
  * corpus manifest outside the timed region. */
object IngestWorkload {
  val Table = "ingest_target"
  /** Corpus blocks a run ingests at least: four files of each size. */
  val MinBlocks = 4
  val Url = "jdbc:derby:memory:perfbench;create=true"
  private val cols = IngestSchema.sinkColumns

  /** The target table: VARCHAR(255) text columns, BIGINT dt_* columns. */
  def createTable(c: Connection, table: String): Unit = {
    val ddl = cols.map(n => s""""$n" ${if (n.startsWith("dt_")) "BIGINT" else "VARCHAR(255)"}""")
    c.createStatement().execute(s"CREATE TABLE $table (${ddl.mkString(", ")})")
  }

  /** Rows of `file` in the target table, as (count, fingerprint). */
  def landed(c: Connection, table: String, file: String): String = {
    val ps = c.prepareStatement(
      s"SELECT ${cols.map("\"" + _ + "\"").mkString(", ")} FROM $table WHERE \"filename\" = ?")
    try {
      ps.setString(1, file)
      val rs = ps.executeQuery()
      val rows = Iterator.continually(rs).takeWhile(_.next()).map { r =>
        cols.indices.map { i =>
          val v = r.getObject(i + 1)
          v match { case n: java.lang.Long => n.longValue; case other => other }
        }
      }
      Fingerprint.ofValues(rows)
    } finally ps.close()
  }

  /** Data lines of a CSV export directory (every part file has a header). */
  def csvLines(dir: File): Long =
    Dirs.files(dir).filter(_.getName.endsWith(".csv")).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().drop(1).size.toLong finally src.close()
    }.sum

  private val Counters = """total=(\d+) succeeded=(\d+) errors=(\d+) committed=(\w+)""".r.unanchored

  final case class Outcome(rows: Long, total: Long, succeeded: Long, errors: Long,
      committed: Boolean)

  /** One request through `Main.run`; the JDBC counters come from the
    * summary line it prints. */
  def viaMain(spark: org.apache.spark.sql.SparkSession, file: File, export: File): Outcome = {
    val out = new java.io.ByteArrayOutputStream()
    val (_, n) = Console.withOut(out) {
      graft.Main.run(spark, graft.Main.Args(file = file.getPath, table = Table,
        exportDir = export.getPath, jdbc = true, jdbcUrl = Url))
    }
    val text = out.toString("UTF-8")
    System.err.print(text)
    text match {
      case Counters(t, s, e, c) => Outcome(n, t.toLong, s.toLong, e.toLong, c.toBoolean)
      case _ => sys.error(s"no JDBC summary from Main.run: $text")
    }
  }

  /** The layer of `graft.Main.run` that started a Spark job, from the
    * job's call site: the first program frame on the driver stack. */
  def layerOf(site: String): String =
    site.linesIterator.map(_.trim).find(_.startsWith("graft.")).getOrElse("") match {
      case f if f.startsWith("graft.ingest.JdbcTransactionalSink") => "ingest.jdbc"
      case f if f.startsWith("graft.ingest.Sinks$.csv") => "ingest.export.csv"
      case f if f.startsWith("graft.ingest.Sinks$.json") => "ingest.export.json"
      case f if f.startsWith("graft.ingest.Sinks$.xlsx") => "ingest.export.xlsx"
      case _ => "ingest.flatten"
    }

  /** Main.run's layer calls as spans under the span `file`, rebuilt from
    * the Spark jobs that Main.run started under it. Each job gets a layer
    * from its call site ([[layerOf]]). A layer runs from the start of its
    * first job to the start of the next layer's first job, the last one
    * to Main.run's return, so the driver work after a layer's jobs (the
    * xlsx zip, the JDBC promote and commit) counts to it. The driver
    * time before the first job, building the reader and the flatten
    * plan, is `ingest.read`. `startMs` is the epoch time of `startNs`. */
  def layerSpans(t: Tracer, file: Int, startNs: Long, startMs: Long, endNs: Long): Unit = {
    val jobs = t.jobsOf(file)
    def ns(ms: Long) = math.min(endNs, startNs + math.max(0L, ms - startMs) * 1000000L)
    val firsts = jobs.groupBy(j => layerOf(j.site)).toSeq
      .map { case (l, js) => (l, ns(js.map(_.startMs).min), js.map(_.id)) }.sortBy(_._2)
    val starts = ("ingest.read", startNs, Seq.empty[Int]) +: firsts
    starts.zip(starts.drop(1).map(_._2) :+ endNs).foreach { case ((l, a, ids), b) =>
      t.moveJobs(ids, t.addSpan(l, file, a, b))
    }
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val inbox = Dirs.fresh(new File(ctx.work, "inbox"))
    val archive = Dirs.fresh(new File(ctx.work, "archive"))
    val exports = Dirs.fresh(new File(ctx.work, "export"))
    ctx.log("session ready")
    val conn = DriverManager.getConnection(Url)
    createTable(conn, Table)
    var attempted = 0; var failed = 0

    // untimed requests of both formats, into a separate table, so the
    // timed files do not pay for class loading, codegen and JIT warm-up
    createTable(conn, "ingest_warmup")
    val warm = Dirs.fresh(new File(ctx.work, "warmup"))
    (0 until 4).map(i => Corpus.write(ctx.seed ^ 0x5eed, i, warm)._1).foreach { f =>
      graft.Main.run(spark, graft.Main.Args(file = f.getPath, table = "ingest_warmup",
        exportDir = new File(exports, "warmup").getPath, jdbc = true, jdbcUrl = Url))
    }

    ctx.log("warm-up done")
    val samples = mutable.ArrayBuffer[Sample]()
    val seen = mutable.Map[String, Int]().withDefaultValue(0)
    var rowsLanded = 0L
    var expectedLanded = 0L
    val tracedCounts = Array.fill(5)(0L) // records, rows, attempted, committed, rolled back
    var i = 0
    ctx.markFirstOp()
    val t0 = System.nanoTime()
    // whole blocks of the corpus, so every run ingests the same mix
    while (i % Corpus.Block != 0 || (System.nanoTime() - t0) / 1e9 < ctx.seconds ||
        i < MinBlocks * Corpus.Block) {
      val (file, exp) = Corpus.write(ctx.seed, i, inbox) // untimed
      val export = new File(exports, file.getName)
      // a size kind; the poisoned files, which roll back and replay row
      // by row, are a kind of their own
      val kind = s"${exp.records}${if (exp.poisoned) "p" else ""}"
      // a traced run traces every other file of each kind, from the second,
      // so the first, which still pays JIT warm-up, is untraced
      val occurrence = seen(kind)
      val traced = ctx.trace && occurrence % 2 == 1
      seen(kind) += 1
      var main = (0, 0L, 0L, 0L) // file span, Main.run start (ns, epoch ms) and end (ns)
      val (c0, s0) = (ctx.cpu(), System.nanoTime())
      val got = try Right(ctx.tracer.traced(traced) {
        ctx.tracer.span(s"file:${file.getName}", op = true) {
          val (m0, ms0) = (System.nanoTime(), System.currentTimeMillis())
          val o = viaMain(spark, file, export)
          if (traced) main = (ctx.tracer.current, m0, ms0, System.nanoTime())
          if (o.committed) ctx.tracer.span("ingest.archive")(Archive.moveInputFile(file.getPath, archive.getPath))
          o
        }
      }) catch { case e: Exception => Left(e) }
      val secs = (System.nanoTime() - s0) / 1e9
      val cpu = ctx.cpuSince(c0)
      if (traced && got.isRight) layerSpans(ctx.tracer, main._1, main._2, main._3, main._4)
      ctx.log(f"${file.getName} ${exp.records}%5d records $secs%.3f s, CPU $cpu%.3f s")
      attempted += 1
      val problems = got match {
        case Left(e) => Seq(s"failed: $e")
        case Right(o) =>
          samples += Sample(kind, secs, cpu, occurrence)
          if (o.committed && !traced) rowsLanded += o.succeeded
          if (traced) Seq(exp.records.toLong, o.rows, o.total,
            if (o.committed) o.succeeded else 0L, if (o.committed) 0L else 1L)
            .zipWithIndex.foreach { case (v, k) => tracedCounts(k) += v }
          expectedLanded += (if (exp.poisoned) 0 else exp.rows)
          val archived = new File(archive, file.getName)
          val rowsIn = landed(conn, Table, file.getName)
          Seq(
            o.rows == exp.rows -> s"flattened ${o.rows} rows, expected ${exp.rows}",
            (o.total, o.succeeded, o.errors, o.committed) ==
              ((exp.rows, exp.rows - exp.badRows, exp.badRows, !exp.poisoned)) ->
              s"JDBC counters $o, expected $exp",
            rowsIn == exp.fingerprint -> s"target rows $rowsIn, expected ${exp.fingerprint}",
            csvLines(new File(export, "csv")) == exp.rows -> "CSV line count",
            (if (exp.poisoned) file.exists && !archived.exists
             else !file.exists && archived.length == exp.bytes) -> "archive state"
          ).collect { case (false, msg) => msg }
      }
      if (problems.nonEmpty) {
        failed += 1
        System.err.println(s"[perfbench] ${file.getName}: ${problems.mkString("; ")}")
      }
      Dirs.delete(export)
      i += 1
    }
    ctx.log(s"timed loop done: ${samples.size} files")
    val total = { val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $Table"); rs.next(); rs.getLong(1) }
    if (total != expectedLanded) {
      failed += 1
      System.err.println(s"[perfbench] target holds $total rows, expected $expectedLanded")
    }
    conn.close()

    val untraced = samples.filter(s => !ctx.trace || s.n % 2 == 0).toSeq
    val e2e = Stats.endToEnd(untraced, rowsLanded)
    ctx.log(f"pass wall time ${Stats.pass(untraced, _.wallS)}%.3f s (reported, not gated)")
    Result(attempted, failed, e2e,
      if (ctx.trace) layers(ctx, samples.toSeq, tracedCounts.toSeq) else Nil)
  }

  private def layers(ctx: Ctx, samples: Seq[Sample],
      counts: Seq[Long]): Seq[(String, Double, String)] = {
    val spans = ctx.tracer.all
    def named(n: String) = spans.filter(_.name == n)
    def med(n: String) = { val s = named(n).map(_.seconds); if (s.isEmpty) 0.0 else Stats.median(s) }
    def total(n: String) = named(n).map(_.seconds).sum
    val files = spans.filter(_.name.startsWith("file:"))
    val byParent = spans.groupBy(_.parent)
    def work(f: Span) = byParent.getOrElse(f.id, Nil).map(k => ctx.tracer.workOf(k.id))
      .foldLeft(ctx.tracer.workOf(f.id))(_ add _)
    val jobs = files.map(work(_).jobs).sum
    val maxShare = files.map(f => work(f).maxTaskNs / 1e9 / f.seconds)
    val Seq(records, rows, attempted, committed, rolledBack) = counts
    Seq(
      ("ingest.read.s", med("ingest.read"), "s"),
      ("ingest.read.records_per_s", records / (total("ingest.read") + total("ingest.flatten")),
        "1/s"),
      ("ingest.flatten.s", med("ingest.flatten"), "s"),
      ("ingest.flatten.rows_per_record", rows.toDouble / records, "ratio"),
      ("ingest.export.csv_s", med("ingest.export.csv"), "s"),
      ("ingest.export.json_s", med("ingest.export.json"), "s"),
      ("ingest.export.xlsx_s", med("ingest.export.xlsx"), "s"),
      ("ingest.jdbc.s", med("ingest.jdbc"), "s"),
      ("ingest.jdbc.rows_per_s", attempted / total("ingest.jdbc"), "1/s"),
      ("ingest.jdbc.rolled_back_files", rolledBack.toDouble, "count"),
      ("ingest.jdbc.useful_ratio", committed.toDouble / attempted, "ratio"),
      ("ingest.archive.s", med("ingest.archive"), "s"),
      ("ingest.jobs_per_file", jobs.toDouble / files.size, "count"),
      ("ingest.max_task_share", Stats.median(maxShare), "ratio"),
      ("trace.overhead_s", Stats.traceOverhead(samples.filter(_.n > 0)
        .map(s => (s.kind, s.wallS, s.n % 2 == 1))), "s"))
  }
}
