package graft

/** The shared test session is the engine Bench and Verify run: it
  * carries GraftExtensions (so plain SQL gets the band-join rewrite),
  * the bench's codegen cache size and UTC. */
class GraftSessionSpec extends SparkSpec {

  test("a plain-SQL interval join on the shared session plans the band operator") {
    import spark.implicits._
    Seq((1L, 1L, 20L), (2L, 1L, 45L), (3L, 2L, 60L))
      .toDF("id", "k", "t").createOrReplaceTempView("graft_session_probe")
    Seq((1L, 10L, 100L), (1L, 20L, 101L), (1L, 30L, 102L), (2L, 50L, 200L))
      .toDF("bk", "bt", "bid").createOrReplaceTempView("graft_session_build")
    val df = spark.sql(
      """SELECT id, bid FROM graft_session_probe p
        |LEFT JOIN graft_session_build b
        |ON p.k = b.bk AND b.bt BETWEEN p.t - 10 AND p.t""".stripMargin)
    val rows = df.collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
      .sorted.toSeq
    assert(rows == Seq((1L, Some(100L)), (1L, Some(101L)), (2L, None),
      (3L, Some(200L))))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BandJoin"), s"not rewritten:\n$plan")
  }

  test("the shared session carries the engine's settings") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.extensions") == "graft.plans.GraftExtensions")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == GraftSession.cpus.toString)
  }
}
