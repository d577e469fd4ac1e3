package graft.ingest

import java.sql.DriverManager
import java.util.Properties
import graft.SparkSpec

/** Transactional-sink semantics against embedded Derby (the in-VM stand-in
  * for Postgres; ships with Spark's jars). Asserts the reference's §2.8
  * whole-file atomicity: any record error ⇒ nothing lands. */
class JdbcSinkSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftdb;create=true"
  private val props = new Properties()

  private def withTable[T](ddl: String, name: String)(f: => T): T = {
    val c = DriverManager.getConnection(url, props)
    try {
      try c.createStatement().execute(s"DROP TABLE $name") catch { case _: Exception => }
      c.createStatement().execute(ddl)
    } finally c.close()
    f
  }

  private def countRows(table: String): Long = {
    val c = DriverManager.getConnection(url, props)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  test("happy path: all rows land atomically via the staging table") {
    withTable("""CREATE TABLE tgt ("name" VARCHAR(255), "v" BIGINT)""", "tgt") {
      val df = (1 to 57).map(i => (s"row$i", i.toLong)).toDF("name", "v")
      val res = JdbcTransactionalSink.write(df, url, props, "tgt",
        JdbcTransactionalSink.Options(batchSize = 10))
      assert(res.committed && res.succeeded == 57 && res.errors == 0)
      assert(countRows("tgt") == 57)
    }
  }

  test("poisoned record: errors counted, whole file rolls back (all-or-nothing)") {
    // VARCHAR(5) target column — the 6+ char row fails on insert
    withTable("""CREATE TABLE tgt2 ("name" VARCHAR(5), "v" BIGINT)""", "tgt2") {
      val df = Seq(("ok1", 1L), ("toolongvalue", 2L), ("ok2", 3L)).toDF("name", "v")
      val res = JdbcTransactionalSink.write(df, url, props, "tgt2")
      assert(!res.committed, "any record error must fail the batch")
      assert(res.errors == 1 && res.succeeded == 2)
      assert(countRows("tgt2") == 0, "no partial data may land")
    }
  }

  test("skip-and-continue mode: good records land, bad ones only counted") {
    withTable("""CREATE TABLE tgt3 ("name" VARCHAR(5), "v" BIGINT)""", "tgt3") {
      import org.apache.spark.sql.functions._
      // one partition of 10 rows from a projection that reuses its output
      // row; the bad row sits mid-batch, so its batch replays row by row
      val df = spark.range(1, 11).select(
        when(col("id") === 6, lit("toolongvalue")).otherwise(concat(lit("ok"), col("id")))
          .as("name"), col("id").as("v")).coalesce(1)
      val res = JdbcTransactionalSink.write(df, url, props, "tgt3",
        JdbcTransactionalSink.Options(allOrNothing = false, batchSize = 4))
      assert(res.committed && res.errors == 1 && res.succeeded == 9)
      val c = DriverManager.getConnection(url, props)
      val landed = try {
        val rs = c.createStatement().executeQuery("""SELECT "name", "v" FROM tgt3""")
        Iterator.continually(rs).takeWhile(_.next()).map(r => (r.getString(1), r.getLong(2))).toSet
      } finally c.close()
      assert(landed == (1L to 10L).filter(_ != 6).map(i => (s"ok$i", i)).toSet)
    }
  }

  test("staging table is dropped afterwards") {
    withTable("""CREATE TABLE tgt4 ("name" VARCHAR(255), "v" BIGINT)""", "tgt4") {
      val df = Seq(("a", 1L)).toDF("name", "v")
      val res = JdbcTransactionalSink.write(df, url, props, "tgt4")
      val c = DriverManager.getConnection(url, props)
      try {
        val rs = c.getMetaData.getTables(null, null, res.stagingTable.toUpperCase, null)
        assert(!rs.next(), "staging table must not survive")
      } finally c.close()
    }
  }

  test("a retried task does not double-insert its partition (idempotent staging)") {
    withTable("""CREATE TABLE tgt5 ("name" VARCHAR(255), "v" BIGINT)""", "tgt5") {
      val ds = (1 to 40).map(i => (s"r$i", i.toLong)).toDS()
        .repartition(2)
        .mapPartitions { it =>
          val tc = org.apache.spark.TaskContext.get()
          if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0) {
            // first attempt: yield enough rows for one committed batch,
            // then die — the retry (attempt 1) must overwrite, not append
            val rows = it.toVector
            new Iterator[(String, Long)] {
              private var i = 0
              def hasNext: Boolean = true
              def next(): (String, Long) =
                if (i < 15 && i < rows.size) { i += 1; rows(i - 1) }
                else throw new RuntimeException("boom: simulated mid-write failure")
            }
          } else it
        }
        .toDF("name", "v")
      val res = JdbcTransactionalSink.write(ds, url, props, "tgt5",
        JdbcTransactionalSink.Options(batchSize = 10))
      assert(res.committed && res.errors == 0, s"unexpected result: $res")
      assert(res.succeeded == 40, s"retry must not double-count: $res")
      assert(countRows("tgt5") == 40, "retried partition must land exactly once")
    }
  }

  test("full ingest pipeline into Derby: fixture → flatten → project → atomic load") {
    val cols = IngestSchema.sinkColumns.map(c => s""""$c" VARCHAR(255)""")
      .updated(1, """"dt_created" BIGINT""").updated(2, """"dt_submitted" BIGINT""")
    withTable(s"CREATE TABLE mist_ams (${cols.mkString(", ")})", "mist_ams") {
      val flat = Flatten(JsonIngest.read(spark, "/root/reference/test-loader.json"))
      val projected = JsonIngest.projectWhitelist(flat, IngestSchema.sinkColumns,
        IngestSchema.flattened.fields.map(f => f.name -> f.dataType).toMap)
      val res = JdbcTransactionalSink.write(projected, url, props, "mist_ams")
      assert(res.committed && res.succeeded == 20)
      assert(countRows("mist_ams") == 20)
    }
  }
}
