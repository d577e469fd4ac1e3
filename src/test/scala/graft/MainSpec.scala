package graft

import scala.jdk.CollectionConverters._
import graft.ingest.{IngestSchema, Sinks}

/** Drives Main.run the way the CLI does: declarative template-driven
  * projection (reference main.go:65) and -model rename-map dispatch
  * (data-schema.json intent, SURVEY.md §1.2). */
class MainSpec extends SparkSpec {

  private val jsonFixture = "/root/reference/test-loader.json"

  test("default run: reference fixture → 20 rows on the built-in whitelist") {
    val (df, n) = Main.run(spark, Main.Args(file = jsonFixture, table = "t"))
    assert(n == 20)
    assert(df.columns.toSeq == IngestSchema.sinkColumns)
  }

  test("--template with the reference db-template.xlsx reproduces the whitelist") {
    val (df, _) = Main.run(spark, Main.Args(file = jsonFixture, table = "t",
      template = "/root/reference/db-template.xlsx"))
    assert(df.columns.toSeq == IngestSchema.sinkColumns)
  }

  test("editing the template changes the projection with no code change") {
    import spark.implicits._
    val dir = tempDir("tmpl").toString
    // reference template shape: row 1 display names, row 2
    // REQUIRED/OPTIONAL, row 3 DB column names (the row Main reads)
    Sinks.exportFiles(
      Seq(("REQUIRED", "REQUIRED", "OPTIONAL"), ("status", "user", "fnumber"))
        .toDF("Status", "User", "F Number").coalesce(1),
      dir)
    val path = s"$dir/export.xlsx"
    val (df, n) = Main.run(spark, Main.Args(file = jsonFixture, table = "t",
      template = path))
    assert(df.columns.toSeq == Seq("status", "user", "fnumber"))
    assert(n == 20)
  }

  test("-model Record applies the data-schema.json rename map end-to-end") {
    // source-named fixture per the mapping's FROM side
    val f = tempDir("src").resolve("src.json")
    java.nio.file.Files.writeString(f,
      """{"Records": [
        |  {"user": "u1", "dateCreated": 1700000001, "dateSubmitted": 1700000002,
        |   "assetName": "a1", "location": "loc", "status": "ok",
        |   "jsonHash": "h1", "localId": "l1", "fileName": "x.json",
        |   "fnumbers": [{"fNumber": "FN-1", "scanTime": "2024-01-01T00:00:00Z"},
        |                {"fNumber": "FN-2", "scanTime": "2024-01-02T00:00:00Z"}]}
        |]}""".stripMargin)
    val (df, n) = Main.run(spark, Main.Args(file = f.toString, table = "t",
      model = "Record", schemaMap = "/root/reference/data-schema.json"))
    assert(n == 2)
    assert(df.columns.toSeq == IngestSchema.sinkColumns)
    val rows = df.orderBy("fnumber").collect()
    assert(rows(0).getAs[Long]("dt_created") == 1700000001L)
    assert(rows(0).getAs[String]("ast_name") == "a1")
    assert(rows(0).getAs[String]("fnumber") == "FN-1")
    assert(rows(1).getAs[String]("scan_time") == "2024-01-02T00:00:00Z")
  }

  test("unknown model name degrades to an empty mapping (no renames)") {
    assert(IngestSchema.mappingFromJson(
      "/root/reference/data-schema.json", "NoSuchModel").isEmpty)
  }

  /** An embedded Derby database holding an empty sink-shaped `table`;
    * returns its URL. */
  private def derbyTable(db: String, table: String): String = {
    val url = s"jdbc:derby:memory:$db;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try c.createStatement().execute(s"CREATE TABLE $table (" +
      IngestSchema.sinkColumns.map(n =>
        s""""$n" ${if (n.startsWith("dt_")) "BIGINT" else "VARCHAR(255)"}""").mkString(", ") + ")")
    finally c.close()
    url
  }

  test("--config names the archive destination also when --jdbc-url is given") {
    val url = derbyTable("graft_main_archive", "archived")
    val dir = tempDir("main_archive")
    val in = dir.resolve("in.json")
    java.nio.file.Files.writeString(in, """{"Records": [{"user": "u1"}]}""")
    val dest = dir.resolve("archived")
    val cfg = dir.resolve("config.yaml")
    java.nio.file.Files.writeString(cfg, s"RUNTIME:\n  FILE_DESTINATION: $dest\n")
    Console.withOut(new java.io.ByteArrayOutputStream()) {
      Main.run(spark, Main.Args(file = in.toString, table = "archived", jdbc = true,
        archive = true, jdbcUrl = url, configPath = cfg.toString))
    }
    assert(!java.nio.file.Files.exists(in))
    assert(java.nio.file.Files.exists(dest.resolve("in.json")))
  }

  /** Every file under `dir` by relative path, with its bytes. */
  private def snapshot(dir: java.nio.file.Path): Map[String, Seq[Byte]] = {
    val files = java.nio.file.Files.walk(dir)
    try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(f => dir.relativize(f).toString -> java.nio.file.Files.readAllBytes(f).toSeq).toMap
    finally files.close()
  }

  test("a bad --config fails before any Spark job and leaves an earlier export as it was") {
    val dir = tempDir("main_bad_config")
    val in = dir.resolve("in.json")
    java.nio.file.Files.writeString(in, """{"Records": [{"user": "u1"}, {"user": "u2"}]}""")
    val out = dir.resolve("export")
    Main.run(spark, Main.Args(file = in.toString, table = "t", exportDir = out.toString))
    val before = snapshot(out)
    assert(before.keys.exists(_.startsWith("csv")))
    val zero = dir.resolve("zero.yaml")
    java.nio.file.Files.writeString(zero, "RUNTIME:\n  WORKER_COUNT: 0\n")
    for ((cfg, says) <- Seq(zero.toString -> "WORKER_COUNT",
        dir.resolve("missing.yaml").toString -> "missing.yaml")) {
      var result: scala.util.Try[_] = null
      val jobs = jobsDuring(spark) {
        result = scala.util.Try(Main.run(spark, Main.Args(file = in.toString, table = "t",
          exportDir = out.toString, jdbc = true, jdbcUrl = "jdbc:derby:memory:graft_bad_cfg",
          configPath = cfg)))
      }
      assert(result.isFailure, cfg)
      assert(result.failed.get.getMessage.contains(says), result)
      assert(jobs == 0, s"$cfg: Main.run ran $jobs Spark jobs")
      assert(snapshot(out) == before, s"$cfg: the earlier export changed")
    }
  }

  /** The text of column `name` in each data row of a CSV export, in
    * part order. */
  private def csvColumn(dir: java.nio.file.Path, name: String): Seq[String] = {
    val parts = java.nio.file.Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.getFileName.toString).toSeq
    parts.flatMap { p =>
      val lines = java.nio.file.Files.readAllLines(p).toArray.map(_.toString).toSeq
      val i = lines.head.split(",").indexOf(name)
      lines.tail.map(_.split(",", -1)(i))
    }
  }

  // the load alone is repartitioned: the exports keep the record order
  for (exports <- Seq(false, true)) {
    test("--config's WORKER_COUNT is the number of concurrent DB writers" +
        (if (exports) ", and the exports keep the record order" else "")) {
      import org.apache.spark.scheduler.SparkListenerJobStart
      val db = if (exports) "graft_main_workers_exports" else "graft_main_workers"
      val url = derbyTable(db, "workers")
      val dir = tempDir("main_workers")
      val in = dir.resolve("in.json")
      val users = (1 to 7).map(i => s"u$i")
      java.nio.file.Files.writeString(in, users.map(u => s"""{"user": "$u"}""")
        .mkString("""{"Records": [""", ", ", "]}"))
      val cfg = dir.resolve("config.yaml")
      java.nio.file.Files.writeString(cfg, "RUNTIME:\n  WORKER_COUNT: 3\n")
      val out = dir.resolve("export")
      // tasks of each job's last (result) stage; the load's write is the last job
      val resultTasks = new java.util.concurrent.ConcurrentLinkedDeque[Int]()
      eventsDuring(spark) { case e: SparkListenerJobStart =>
        resultTasks.add(e.stageInfos.maxBy(_.stageId).numTasks)
      } {
        Console.withOut(new java.io.ByteArrayOutputStream()) {
          Main.run(spark, Main.Args(file = in.toString, table = "workers", jdbc = true,
            jdbcUrl = url, configPath = cfg.toString,
            exportDir = if (exports) out.toString else null))
        }
      }
      assert(resultTasks.peekLast() == 3,
        s"result-stage task counts per job: $resultTasks")
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery("SELECT \"user\" FROM workers")
        val landed = Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toSeq
        assert(landed.sorted == users.sorted)
      } finally c.close()
      if (exports) {
        assert(csvColumn(out.resolve("csv"), "user") == users)
        val zip = new java.util.zip.ZipFile(out.resolve("export.xlsx").toFile)
        val sheet = try new String(zip.getInputStream(
          zip.getEntry("xl/worksheets/sheet1.xml")).readAllBytes(), "UTF-8") finally zip.close()
        val rows = graft.ingest.SinksSpec.rows(sheet)
        val user = rows.head.indexOf("user")
        assert(rows.tail.map(_(user)) == users)
      }
    }
  }

  test("parse: a full command line sets every field") {
    val got = Main.parse(Array("-file", "in.xml", "-model", "Record",
      "-table", "t", "--export-dir", "out", "--config", "c.yaml",
      "--template", "db.xlsx", "--schema-map", "m.json",
      "--jdbc-url", "jdbc:derby:x", "--jdbc", "--archive"))
    assert(got == Right(Main.Args(file = "in.xml", model = "Record",
      table = "t", exportDir = "out", jdbc = true, archive = true,
      configPath = "c.yaml", jdbcUrl = "jdbc:derby:x", template = "db.xlsx",
      schemaMap = "m.json")))
  }

  test("parse: an unknown flag, a value flag with no value and a missing " +
      "required flag are errors") {
    assert(Main.parse(Array("-file", "in.xml", "-table", "t", "--jbdc")) ==
      Left("flag provided but not defined: --jbdc"))
    assert(Main.parse(Array("-table", "t", "-file")) ==
      Left("flag needs an argument: -file"))
    assert(Main.parse(Array("-file", "in.xml")).isLeft)
    assert(Main.parse(Array("-file", "in.xml", "-table", "t")).isLeft)
  }
}
