package graft

import java.nio.file.{Files, Path}
import java.sql.DriverManager
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.scheduler.{SparkListenerBlockUpdated, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.graft.CacheProbe
import graft.ingest.IngestSchema

/** `Main.run` reads and flattens the file once: with two or more passes
  * (`--export-dir`, maybe with `--jdbc`) the first sink's job persists
  * the projected rows, the later sinks read them, and they are released
  * after the sinks, also when a sink throws. With every sink it runs
  * exactly 4 Spark jobs (CSV, JSON, xlsx, JDBC), and the row count it
  * returns is observed on the first sink's job. */
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
    test(s"$kind: --export-dir and --jdbc run 4 Spark jobs, and n equals " +
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
      assert(jobs == 4, s"Main.run ran $jobs Spark jobs")
      val expected = if (kind == "xml") 4L else 6L
      assert(n == expected)
      assert(csvDataLines(out) == n)
      val total = raw"total=(\d+)".r.findFirstMatchIn(stdout.toString)
        .map(_.group(1).toLong)
      assert(total.contains(n), s"JDBC summary: $stdout")
      assert(derbyRows(table) == n)
    }
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

  test("the persisted rows are built in the first sink's job only") {
    val table = "main_jobs_once"
    createTarget(table)
    val out = tempDir("main_jobs_out_once")
    // bus order: "start"/"end" of each job, "block" for each RDD block
    // stored (a removal reports an invalid storage level)
    val events = scala.collection.mutable.ArrayBuffer[String]()
    eventsDuring(spark) {
      case _: SparkListenerJobStart => events += "start"
      case _: SparkListenerJobEnd => events += "end"
      case e: SparkListenerBlockUpdated if e.blockUpdatedInfo.blockId.isRDD &&
          e.blockUpdatedInfo.storageLevel.isValid => events += "block"
    } {
      Console.withOut(new java.io.ByteArrayOutputStream()) {
        Main.run(spark, Main.Args(file = xmlFile.toString, table = table,
          exportDir = out.toString, jdbc = true, jdbcUrl = url))
      }
    }
    val firstJob = events.slice(0, events.indexOf("end") + 1)
    assert(events.count(_ == "start") == 4, events)
    assert(firstJob.head == "start" && firstJob.contains("block"), events)
    assert(events.count(_ == "block") == firstJob.count(_ == "block"), events)
  }
}
