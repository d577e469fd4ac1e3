package graft.ingest

import java.nio.file.{Files, Paths}
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** EP1-as-a-stream: drop the fixture into a watched dir, flatten lands in
  * the sink, source file is archived. */
class StreamingIngestSpec extends SparkSpec {

  test("drop-dir json stream flattens to 20 rows and archives the input") {
    val root = tempDir("stream_ingest")
    val in = Files.createDirectories(root.resolve("in"))
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    val archive = root.resolve("archive").toString
    Files.copy(Paths.get("/root/reference/test-loader.json"),
      in.resolve("batch1.json"))

    val df = StreamingIngest.jsonStream(spark, in.toString,
      archiveDir = Some(archive))
    val q = StreamingIngest.startParquetSink(df, out, ckpt)
    try {
      q.processAllAvailable()
      // the source archives batch N's files when a later batch commits —
      // drop a second file to close out batch 0
      Files.copy(Paths.get("/root/reference/test-loader.json"),
        in.resolve("batch2.json"))
      q.processAllAvailable()
    } finally q.stop()

    val landed = spark.read.parquet(out)
    assert(landed.count() == 40)
    assert(landed.columns.toSeq == IngestSchema.sinkColumns)
    assert(landed.filter(col("ast_name").isNull).count() > 0)
    // cleanSource=archive moves the consumed file under archiveDir via an
    // async cleaner thread — poll up to 15s
    def archived(): Boolean = Files.exists(Paths.get(archive)) &&
      Files.walk(Paths.get(archive)).toArray.map(_.toString)
        .exists(_.endsWith("batch1.json"))
    val deadline = System.nanoTime() + 15L * 1000000000L
    var ok = archived()
    while (!ok && System.nanoTime() < deadline) { Thread.sleep(500); ok = archived() }
    assert(ok, "consumed input should be archived")
  }

  test("second file appends incrementally (exactly-once checkpointing)") {
    val root = tempDir("stream_ingest2")
    val in = Files.createDirectories(root.resolve("in"))
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    Files.copy(Paths.get("/root/reference/test-loader.json"), in.resolve("a.json"))
    val df = StreamingIngest.jsonStream(spark, in.toString)
    val q1 = StreamingIngest.startParquetSink(df, out, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(out).count() == 20)

    Files.copy(Paths.get("/root/reference/test-loader.json"), in.resolve("b.json"))
    val q2 = StreamingIngest.startParquetSink(df, out, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    // a.json not reprocessed; b.json adds 20 more
    assert(spark.read.parquet(out).count() == 40)
  }

  test("streaming into the transactional JDBC sink: per-batch atomic loads") {
    val url = "jdbc:derby:memory:streamdb;create=true"
    val props = new java.util.Properties()
    val c = java.sql.DriverManager.getConnection(url, props)
    try {
      try c.createStatement().execute("DROP TABLE stream_tgt") catch { case _: Exception => }
      val cols = IngestSchema.sinkColumns.map(x => s""""$x" VARCHAR(255)""")
        .updated(1, """"dt_created" BIGINT""").updated(2, """"dt_submitted" BIGINT""")
      c.createStatement().execute(s"CREATE TABLE stream_tgt (${cols.mkString(", ")})")
    } finally c.close()

    val root = tempDir("stream_jdbc")
    val in = Files.createDirectories(root.resolve("in"))
    Files.copy(Paths.get("/root/reference/test-loader.json"), in.resolve("a.json"))
    val df = StreamingIngest.jsonStream(spark, in.toString)
    val q = StreamingIngest.startJdbcSink(df, url, props, "stream_tgt",
      root.resolve("ckpt").toString)
    try {
      q.processAllAvailable()
      Files.copy(Paths.get("/root/reference/test-loader.json"), in.resolve("b.json"))
      q.processAllAvailable()
    } finally q.stop()

    val c2 = java.sql.DriverManager.getConnection(url, props)
    try {
      val rs = c2.createStatement().executeQuery("SELECT COUNT(*) FROM stream_tgt")
      rs.next()
      assert(rs.getLong(1) == 40, s"expected 40 rows, got ${rs.getLong(1)}")
    } finally c2.close()
  }

  private def derbyCount(url: String, table: String): Long = {
    val c = java.sql.DriverManager.getConnection(url, new java.util.Properties())
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  test("a re-delivered micro-batch lands zero duplicate rows (commit marker)") {
    import spark.implicits._
    val url = "jdbc:derby:memory:replaydb;create=true"
    val props = new java.util.Properties()
    val c = java.sql.DriverManager.getConnection(url, props)
    try {
      try c.createStatement().execute("DROP TABLE replay_tgt") catch { case _: Exception => }
      c.createStatement().execute("""CREATE TABLE replay_tgt ("name" VARCHAR(255), "v" BIGINT)""")
    } finally c.close()

    val batch0 = (1 to 20).map(i => (s"r$i", i.toLong)).toDF("name", "v")
    val first = JdbcTransactionalSink.writeBatch(batch0, url, props, "replay_tgt", 0L)
    assert(first.committed && !first.replayed && first.succeeded == 20)
    assert(derbyCount(url, "replay_tgt") == 20)

    // foreachBatch's crash contract: same batchId, same data, delivered again
    val replay = JdbcTransactionalSink.writeBatch(batch0, url, props, "replay_tgt", 0L)
    assert(replay.committed && replay.replayed, s"replay must be a no-op: $replay")
    assert(derbyCount(url, "replay_tgt") == 20, "replayed batch must land zero rows")

    // a NEW batch id still appends
    val batch1 = (21 to 30).map(i => (s"r$i", i.toLong)).toDF("name", "v")
    val next = JdbcTransactionalSink.writeBatch(batch1, url, props, "replay_tgt", 1L)
    assert(next.committed && !next.replayed && next.succeeded == 10)
    assert(derbyCount(url, "replay_tgt") == 30)
  }

  test("crash between DB commit and checkpoint commit: restart re-delivers, DB unchanged") {
    val url = "jdbc:derby:memory:crashdb;create=true"
    val props = new java.util.Properties()
    val c = java.sql.DriverManager.getConnection(url, props)
    try {
      try c.createStatement().execute("DROP TABLE crash_tgt") catch { case _: Exception => }
      val cols = IngestSchema.sinkColumns.map(x => s""""$x" VARCHAR(255)""")
        .updated(1, """"dt_created" BIGINT""").updated(2, """"dt_submitted" BIGINT""")
      c.createStatement().execute(s"CREATE TABLE crash_tgt (${cols.mkString(", ")})")
    } finally c.close()

    val root = tempDir("stream_crash")
    val in = Files.createDirectories(root.resolve("in"))
    val ckpt = root.resolve("ckpt")
    Files.copy(Paths.get("/root/reference/test-loader.json"), in.resolve("a.json"))
    val df = StreamingIngest.jsonStream(spark, in.toString)
    val q1 = StreamingIngest.startJdbcSink(df, url, props, "crash_tgt", ckpt.toString)
    try q1.processAllAvailable() finally q1.stop()
    assert(derbyCount(url, "crash_tgt") == 20)

    // simulate the crash window: the DB transaction committed but the
    // checkpoint's commit record for batch 0 was never written — on
    // restart the engine re-runs batch 0 through foreachBatch. The
    // restarted process is modeled as a COPY of the checkpoint without
    // commits/0 (same-path surgery trips Spark's in-JVM metadata-log
    // cache, which this JVM-internal detail shouldn't be the subject).
    val ckpt2 = Files.createDirectories(root.resolve("ckpt-after-crash"))
    Files.walk(ckpt).forEach { p =>
      val rel = ckpt.relativize(p)
      // drop the commit record AND its hidden Hadoop checksum twin — a
      // stale .crc makes the re-written record's atomic rename fail
      if (rel.toString.nonEmpty && rel.toString != "commits/0" &&
          rel.toString != "commits/.0.crc")
        try {
          if (Files.isDirectory(p)) Files.createDirectories(ckpt2.resolve(rel))
          else Files.copy(p, ckpt2.resolve(rel))
        } catch { case _: java.nio.file.FileAlreadyExistsException => }
    }
    assert(Files.exists(ckpt.resolve("commits").resolve("0")),
      "expected a commit record for batch 0")
    assert(!Files.exists(ckpt2.resolve("commits").resolve("0")))

    val q2 = StreamingIngest.startJdbcSink(df, url, props, "crash_tgt", ckpt2.toString)
    try q2.processAllAvailable() finally q2.stop()
    assert(derbyCount(url, "crash_tgt") == 20,
      "re-delivered batch 0 must not duplicate rows in the target")
  }
}
