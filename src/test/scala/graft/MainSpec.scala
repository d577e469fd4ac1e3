package graft

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
    val path = tempDir("tmpl").resolve("template.xlsx").toString
    // reference template shape: row 1 display names, row 2
    // REQUIRED/OPTIONAL, row 3 DB column names (the row Main reads)
    Sinks.xlsx(
      Seq(("REQUIRED", "REQUIRED", "OPTIONAL"), ("status", "user", "fnumber"))
        .toDF("Status", "User", "F Number").coalesce(1),
      path)
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

  test("--config's WORKER_COUNT is the number of concurrent DB writers") {
    import org.apache.spark.scheduler.SparkListenerJobStart
    val url = derbyTable("graft_main_workers", "workers")
    val dir = tempDir("main_workers")
    val in = dir.resolve("in.json")
    java.nio.file.Files.writeString(in, (1 to 7).map(i => s"""{"user": "u$i"}""")
      .mkString("""{"Records": [""", ", ", "]}"))
    val cfg = dir.resolve("config.yaml")
    java.nio.file.Files.writeString(cfg, "RUNTIME:\n  WORKER_COUNT: 3\n")
    // tasks of each job's last (result) stage; the load's write is the last job
    val resultTasks = new java.util.concurrent.ConcurrentLinkedDeque[Int]()
    eventsDuring(spark) { case e: SparkListenerJobStart =>
      resultTasks.add(e.stageInfos.maxBy(_.stageId).numTasks)
    } {
      Console.withOut(new java.io.ByteArrayOutputStream()) {
        Main.run(spark, Main.Args(file = in.toString, table = "workers",
          jdbc = true, jdbcUrl = url, configPath = cfg.toString))
      }
    }
    assert(resultTasks.peekLast() == 3,
      s"result-stage task counts per job: $resultTasks")
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery("SELECT \"user\" FROM workers")
      val users = Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toSeq
      assert(users.sorted == (1 to 7).map(i => s"u$i").sorted)
    } finally c.close()
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
  }
}
