package graft

import java.nio.file.{Files, Path}
import java.sql.DriverManager
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.scheduler.{SparkListenerBlockUpdated, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExternalRDDScanExec, RDDScanExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.graft.CacheProbe
import graft.ingest.{IngestSchema, Sinks}
import graft.ingest.xml.XmlScan

/** `Main.run` with every sink runs exactly 2 Spark jobs: the export job,
  * which parses and flattens the file once for the CSV, JSON and xlsx
  * outputs, and the JDBC load. Both run over one physical plan, each
  * started from its own sink. It caches nothing, also when a sink
  * throws, and the row count it returns is the export's, else the
  * load's. */
class MainJobsSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graft_main_jobs;create=true"

  /** 3 records, 4 flattened rows: two fnumbers, none, one. */
  private lazy val xmlFile: Path = {
    val f = tempDir("main_jobs_xml").resolve("in.xml")
    Files.writeString(f,
      """<Data>
        |<Record><user>u1</user><dt_created>1700000001</dt_created>
        |  <fnumbers><fnumber>F1</fnumber><scan_time>t1</scan_time></fnumbers>
        |  <fnumbers><fnumber>F2</fnumber><scan_time>t2</scan_time></fnumbers>
        |</Record>
        |<Record><user>u2</user><status>ok</status></Record>
        |<Record><user>u3</user>
        |  <fnumbers><fnumber>F3</fnumber><scan_time>t3</scan_time></fnumbers>
        |</Record>
        |</Data>""".stripMargin)
    f
  }

  /** 4 records in the Records envelope, 6 flattened rows: three
    * fnumbers, an empty array, a null array and no array. */
  private lazy val jsonFile: Path = {
    val f = tempDir("main_jobs_json").resolve("in.json")
    Files.writeString(f,
      """{"Records": [
        |  {"user": "u1", "dt_created": 1700000001, "fnumbers": [
        |    {"fnumber": "F1", "scan_time": "t1"}, {"fnumber": "F2"},
        |    {"fnumber": "F3", "scan_time": "t3"}]},
        |  {"user": "u2", "fnumbers": []},
        |  {"user": "u3", "fnumbers": null},
        |  {"user": "u4", "status": "ok"}
        |]}""".stripMargin)
    f
  }

  private def createTarget(table: String): Unit = {
    val cols = IngestSchema.sinkColumns.map(c => s""""$c" VARCHAR(255)""")
      .updated(1, """"dt_created" BIGINT""").updated(2, """"dt_submitted" BIGINT""")
    val c = DriverManager.getConnection(url)
    try {
      Try(c.createStatement().execute(s"DROP TABLE $table"))
      c.createStatement().execute(s"CREATE TABLE $table (${cols.mkString(", ")})")
    } finally c.close()
  }

  private def derbyRows(table: String): Long = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  /** Persisted RDDs and cache-manager entries of the shared session. */
  private def cacheState(): (Set[Int], Int) =
    (spark.sparkContext.getPersistentRDDs.keySet.toSet, CacheProbe.entries(spark))

  /** `Main.run` left no persisted RDD and no cache entry behind. */
  private def assertReleased(before: (Set[Int], Int)): Unit =
    assert(cacheState() == before, s"cache state before the run: $before")

  /** Data lines of the CSV export: every part file has its own header. */
  private def csvDataLines(dir: Path): Long =
    Files.list(dir.resolve("csv")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .map(p => Files.readAllLines(p).size - 1L).sum

  for ((kind, file) <- Seq("xml" -> (() => xmlFile), "json" -> (() => jsonFile))) {
    test(s"$kind: --export-dir and --jdbc run 2 Spark jobs, and n equals " +
        "the CSV data lines and the JDBC total") {
      val table = s"main_jobs_$kind"
      createTarget(table)
      val out = tempDir(s"main_jobs_out_$kind")
      val stdout = new java.io.ByteArrayOutputStream()
      var n = -1L
      val cache = cacheState()
      val jobs = jobsDuring(spark) {
        n = Console.withOut(stdout) {
          Main.run(spark, Main.Args(file = file().toString, table = table,
            exportDir = out.toString, jdbc = true, jdbcUrl = url))._2
        }
      }
      assertReleased(cache)
      assert(jobs == 2, s"Main.run ran $jobs Spark jobs")
      val expected = if (kind == "xml") 4L else 6L
      assert(n == expected)
      assert(csvDataLines(out) == n)
      val total = raw"total=(\d+)".r.findFirstMatchIn(stdout.toString)
        .map(_.group(1).toLong)
      assert(total.contains(n), s"JDBC summary: $stdout")
      assert(derbyRows(table) == n)
    }
  }

  /** The first program frame of the driver stack that started job `e`. */
  private def firstProgramFrame(e: SparkListenerJobStart): String =
    e.stageInfos.head.details.linesIterator.map(_.trim).find(_.startsWith("graft."))
      .getOrElse("")

  for ((kind, file) <- Seq("xml" -> (() => xmlFile), "json" -> (() => jsonFile))) {
    test(s"$kind: both sink jobs run over one physical plan, each started from its sink") {
      val table = s"main_plan_$kind"
      createTarget(table)
      val out = tempDir(s"main_plan_out_$kind")
      val starts = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
      var projected: DataFrame = null
      eventsDuring(spark) { case e: SparkListenerJobStart => starts.add(e) } {
        projected = Console.withOut(new java.io.ByteArrayOutputStream()) {
          Main.run(spark, Main.Args(file = file().toString, table = table,
            exportDir = out.toString, jdbc = true, jdbcUrl = url))._1
        }
      }
      val jobs = starts.asScala.toSeq.sortBy(_.jobId)
      assert(jobs.size == 2, s"Main.run ran ${jobs.size} Spark jobs")
      val planned = projected.queryExecution.toRdd.id
      for (j <- jobs) {
        val rdds = j.stageInfos.flatMap(_.rddInfos.map(_.id))
        assert(rdds.contains(planned), s"job ${j.jobId} runs over RDDs $rdds, not $planned")
      }
      val frames = jobs.map(firstProgramFrame)
      assert(frames.head.startsWith("graft.ingest.Sinks$") &&
        frames(1).startsWith("graft.ingest.JdbcTransactionalSink$"), frames)
    }
  }

  test("xml: the export job scans through the V2 source, which reads only " +
      "the top-level columns the template keeps") {
    import spark.implicits._
    val tmpl = tempDir("main_jobs_template")
    // the narrower template MainSpec writes: row 3 keeps status, user
    // and fnumber, so every other column and scan_time are dropped
    Sinks.exportFiles(
      Seq(("REQUIRED", "REQUIRED", "OPTIONAL"), ("status", "user", "fnumber"))
        .toDF("Status", "User", "F Number").coalesce(1),
      tmpl.toString)
    val out = tempDir("main_jobs_out_template")
    val (projected, n) = Main.run(spark, Main.Args(file = xmlFile.toString, table = "t",
      template = tmpl.resolve("export.xlsx").toString, exportDir = out.toString))
    assert(n == 4 && projected.columns.toSeq == Seq("status", "user", "fnumber"))
    val plan = projected.queryExecution.executedPlan
    val scans = plan.collect { case b: BatchScanExec => b.scan }
    assert(scans.size == 1 && scans.head.isInstanceOf[XmlScan], plan)
    assert(plan.collect { case r: ExternalRDDScanExec[_] => r case r: RDDScanExec => r }.isEmpty,
      plan)
    // Flatten's generator reads the whole fnumbers array, so scan_time
    // is still parsed: the pruning stops at the repeated group
    assert(scans.head.readSchema().simpleString == "struct<user:string,status:string," +
      "fnumbers:array<struct<fnumber:string,scan_time:string>>>", plan)
  }

  test("with --export-dir as the only sink the count rides on the export job") {
    val out = tempDir("main_jobs_export_only")
    var n = -1L
    val cache = cacheState()
    val jobs = jobsDuring(spark) {
      n = Main.run(spark, Main.Args(file = jsonFile.toString, table = "t",
        exportDir = out.toString))._2
    }
    assertReleased(cache)
    assert(jobs == 1, s"Main.run ran $jobs Spark jobs")
    assert(n == 6 && csvDataLines(out) == 6)
  }

  test("with --jdbc as the only sink the count rides on the JDBC load") {
    val table = "main_jobs_jdbc_only"
    createTarget(table)
    var n = -1L
    val cache = cacheState()
    val jobs = jobsDuring(spark) {
      n = Main.run(spark, Main.Args(file = jsonFile.toString, table = table,
        jdbc = true, jdbcUrl = url))._2
    }
    assertReleased(cache)
    assert(jobs == 1, s"Main.run ran $jobs Spark jobs")
    assert(n == 6 && derbyRows(table) == 6)
  }

  test("a run with no sink still returns the row count") {
    assert(Main.run(spark, Main.Args(file = xmlFile.toString, table = "t"))._2 == 4)
    assert(Main.run(spark, Main.Args(file = jsonFile.toString, table = "t"))._2 == 6)
  }

  test("a file with no records observes 0 rows on the first sink") {
    for ((name, content) <- Seq("empty.xml" -> "<Data></Data>",
        "empty.json" -> """{"Records": []}""")) {
      val f = tempDir("main_jobs_empty").resolve(name)
      Files.writeString(f, content)
      val out = tempDir("main_jobs_out_empty")
      val cache = cacheState()
      val run = Future(Main.run(spark, Main.Args(file = f.toString, table = "t",
        exportDir = out.toString))._2)
      assert(Await.result(run, 2.minutes) == 0, name)
      assertReleased(cache)
    }
  }

  test("a run whose first sink throws fails promptly instead of waiting " +
      "for the row count") {
    val notADir = tempDir("main_jobs_bad").resolve("plain-file")
    Files.writeString(notADir, "not a directory")
    val cache = cacheState()
    val run = Future(Try(Main.run(spark, Main.Args(file = xmlFile.toString,
      table = "t", exportDir = notADir.toString))))
    assert(Await.result(run, 2.minutes).isFailure)
    assertReleased(cache)
  }

  test("a run with every sink stores no RDD block") {
    val table = "main_jobs_no_cache"
    createTarget(table)
    val out = tempDir("main_jobs_out_no_cache")
    val blocks = new java.util.concurrent.atomic.AtomicInteger()
    eventsDuring(spark) {
      case e: SparkListenerBlockUpdated if e.blockUpdatedInfo.blockId.isRDD &&
          e.blockUpdatedInfo.storageLevel.isValid => blocks.incrementAndGet()
    } {
      Console.withOut(new java.io.ByteArrayOutputStream()) {
        Main.run(spark, Main.Args(file = xmlFile.toString, table = table,
          exportDir = out.toString, jdbc = true, jdbcUrl = url))
      }
    }
    assert(blocks.get == 0, "Main.run stored RDD blocks")
  }
}
