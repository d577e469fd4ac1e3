package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.graft.PlanBridge

/** The KEYLESS band (range) join — [[BandConds.lowerBandKeyless]]'s
  * bucketized lowering, reachable from the DataFrame API
  * ([[PlanBridge.bandJoinKeyless]]), the `BAND JOIN` SQL clause with
  * no key equality, and the plain-SQL auto-rewrite. Gates: exact
  * parity with the stock nested-loop plan across band shapes, null
  * handling, NEGATIVE times (floor-division bucketing, where
  * truncating div would misbucket), and the physical shape (the keyed
  * band operator on the synthesized bucket, both sides partitioned). */
class BandKeylessSpec extends SparkSpec {

  private lazy val sql = {
    val s = spark.newSession()
    import s.implicits._
    Seq((100L, Option(10L)), (101L, Option(20L)), (102L, Option(31L)),
        (200L, Option(50L)), (900L, Option(5L)),
        (300L, Option.empty[Long]),        // null-time probe
        (400L, Option(-23L)))              // negative-time probe
      .toDF("event_id", "us")
      .createOrReplaceTempView("kprobe")
    Seq((Option(8L), 1000L), (Option(15L), 1001L), (Option(25L), 1002L),
        (Option(45L), 2000L), (Option(60L), 2001L),
        (Option.empty[Long], 3000L),       // null-time build
        (Option(-30L), 4000L), (Option(-14L), 4001L)) // negative times
      .toDF("b_us", "b_event_id")
      .createOrReplaceTempView("kbuild")
    s
  }

  private def rows(df: org.apache.spark.sql.DataFrame) = df
    .select("event_id", "b_us", "b_event_id").collect()
    .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
    .sortBy(r => (r._1, r._2.map(_.asInstanceOf[Long]))).toSeq

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  // band [us − 10, us], keyless: every build row in the window,
  // regardless of any identity — hand-derived
  private val wantLeft = Seq(
    (100L, Some(8L), Some(1000L)),
    (101L, Some(15L), Some(1001L)),
    (102L, Some(25L), Some(1002L)),
    (200L, Some(45L), Some(2000L)),
    (300L, None, None),
    (400L, Some(-30L), Some(4000L)),
    (900L, None, None))

  test("DataFrame API: hand-checked rows, negative times bucket " +
      "correctly (floor division)") {
    val got = rows(PlanBridge.bandJoinKeyless(
      sql.table("kprobe"), sql.table("kbuild"), "us", "b_us", -10L, 0L))
    assert(got == wantLeft)
  }

  test("randomized parity with the stock nested-loop plan, " +
      "several band shapes, times spanning zero") {
    val rnd = new scala.util.Random(29)
    val probeRows = (0 until 400).map(i =>
      (i.toLong, rnd.nextInt(400).toLong - 200L))
    val buildRows = (0 until 250).map(j =>
      (rnd.nextInt(400).toLong - 200L, 1000L + j))
    def frames(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      (probeRows.toDF("id", "t"), buildRows.toDF("bt", "bid"))
    }
    val (probe, build) = frames(sql)
    // the reference runs with the band rewrite off: on `sql` the rewrite
    // would plan it as the operator under test
    val (stockProbe, stockBuild) = frames(SparkSpec.plainSession)
    for ((lo, hi) <- Seq((-15L, 0L), (-7L, 7L), (3L, 30L), (0L, 0L))) {
      val native = PlanBridge.bandJoinKeyless(probe, build, "t", "bt", lo, hi)
        .select("id", "bid").collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
        .sorted.toSeq
      val stockDf = stockProbe.join(stockBuild,
          stockBuild("bt") >= stockProbe("t") + lo &&
            stockBuild("bt") <= stockProbe("t") + hi,
          "left_outer")
        .select("id", "bid")
      val stock = stockDf.collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
        .sorted.toSeq
      assert(!stockDf.queryExecution.executedPlan.toString.contains("BandJoin"))
      assert(native == stock, s"band [$lo,$hi] diverged")
      assert(native.nonEmpty)
    }
  }

  test("keyless BAND SQL clause: left and inner variants") {
    val left = sql.sql(
      """SELECT event_id, b_us, b_event_id
        |FROM kprobe p BAND LEFT JOIN kbuild b
        |ON b.b_us BETWEEN p.us - 10 AND p.us""".stripMargin)
    assert(rows(left) == wantLeft)
    assert(planOf(left).contains("BandJoin"))
    val inner = sql.sql(
      """SELECT event_id, b_us, b_event_id
        |FROM kprobe p BAND JOIN kbuild b
        |ON b.b_us BETWEEN p.us - 10 AND p.us""".stripMargin)
    assert(rows(inner) == wantLeft.filter(_._2.isDefined))
  }

  test("auto-rewrite claims the keyless stock LEFT JOIN; rows match " +
      "the un-rewritten plan") {
    val text =
      """SELECT event_id, b_us, b_event_id
        |FROM kprobe p LEFT JOIN kbuild b
        |ON b.b_us BETWEEN p.us - 10 AND p.us""".stripMargin
    val on = sql.sql(text)
    assert(planOf(on).contains("BandJoin"), s"not rewritten:\n${planOf(on)}")
    assert(rows(on) == wantLeft)
    sql.conf.set(BandJoinAutoRewrite.ConfKey, "false")
    try {
      val off = sql.sql(text)
      assert(!planOf(off).contains("BandJoin"))
      assert(rows(off) == wantLeft)
    } finally sql.conf.set(BandJoinAutoRewrite.ConfKey, "true")
  }

  test("empty sides: empty build keeps probes null-extended; empty " +
      "probe yields no rows") {
    import sql.implicits._
    val probe = Seq((1L, 5L)).toDF("id", "t")
    val build = Seq.empty[(Long, Long)].toDF("bt", "bid")
    val a = PlanBridge.bandJoinKeyless(probe, build, "t", "bt", -5L, 5L)
    assert(a.count() == 1L && a.select("bid").head.isNullAt(0))
    val b = PlanBridge.bandJoinKeyless(
      Seq.empty[(Long, Long)].toDF("id", "t"),
      Seq((3L, 7L)).toDF("bt", "bid"), "t", "bt", -5L, 5L)
    assert(b.count() == 0L)
  }

  test("TIMESTAMP_NTZ keyless claim: stock INTERVAL-arithmetic join " +
      "auto-rewrites and matches the un-rewritten rows") {
    val s = sql
    import s.implicits._
    Seq((1L, "2024-03-01 09:00:25"), (2L, "2024-03-01 09:00:40"),
        (3L, "2024-03-01 08:59:00"))
      .toDF("tp_id", "tp_s")
      .selectExpr("tp_id", "CAST(tp_s AS TIMESTAMP_NTZ) AS tp_ts")
      .createOrReplaceTempView("ktprobe")
    Seq(("2024-03-01 09:00:05", 100L), ("2024-03-01 09:00:20", 101L),
        ("2024-03-01 09:00:50", 102L))
      .toDF("tb_s", "tb_id")
      .selectExpr("CAST(tb_s AS TIMESTAMP_NTZ) AS tb_ts", "tb_id")
      .createOrReplaceTempView("ktbuild")
    val text =
      """SELECT tp_id, tb_id FROM ktprobe p LEFT JOIN ktbuild b
        |ON b.tb_ts BETWEEN p.tp_ts - INTERVAL 30 SECONDS AND p.tp_ts""".stripMargin
    val on = sql.sql(text)
    on.collect()
    assert(on.queryExecution.executedPlan.toString.contains("BandJoin"),
      "timestamp keyless shape not claimed")
    def rs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).sortBy(r =>
        (r._1, r._2.map(_.asInstanceOf[Long]))).toSeq
    val got = rs(on)
    sql.conf.set(BandJoinAutoRewrite.ConfKey, "false")
    try assert(got == rs(sql.sql(text)) && got.count(_._2.isDefined) == 3)
    finally sql.conf.set(BandJoinAutoRewrite.ConfKey, "true")
  }

  test("physical shape: keyed band operator on the synthesized bucket, " +
      "build replication bounded by 3x") {
    val df = PlanBridge.bandJoinKeyless(
      sql.table("kprobe"), sql.table("kbuild"), "us", "b_us", -10L, 0L)
    val plan = planOf(df)
    assert(plan.contains("BandJoin"), s"no BandJoinExec in:\n$plan")
    assert(plan.contains("Generate explode"), s"no bucket explode in:\n$plan")
    // replication bound: w = hi − lo, so sequence length ≤ (hi−lo)/w + 2
    // = 3 — check it directly on the generate expression
    import sql.implicits._
    import org.apache.spark.sql.functions._
    val w = 10L
    val spans = sql.table("kbuild").filter(col("b_us").isNotNull)
      .select((
        expr(s"(b_us - 0 - pmod(b_us - 0, $w)) div $w") -
        expr(s"(b_us - 10 - pmod(b_us - 10, $w)) div $w") + 1L).as("n"))
      .collect().map(_.getLong(0))
    assert(spans.nonEmpty && spans.forall(n => n >= 1L && n <= 3L),
      s"replication spans out of bound: ${spans.mkString(",")}")
  }
}
