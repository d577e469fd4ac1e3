package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.graft.PlanBridge

/** The `BAND JOIN` SQL surface and the plain-SQL auto-rewrite
  * ([[BandJoinAutoRewrite]]): every clause variant must land on the
  * native operator with rows identical to the stock residual join —
  * including the null-key / null-time rows whose hygiene the lowering
  * adds (the raw operator would group null keys and read null times
  * as 0). */
class BandSqlSpec extends SparkSpec {

  private lazy val sql = {
    val s = spark.newSession()
    import s.implicits._
    // probe: one null-time row (300) and one null-key row (301); both
    // must come back null-extended from a LEFT join and drop from an
    // inner one
    Seq((100L, Option(1L), Option(10L)), (101L, Option(1L), Option(20L)),
        (102L, Option(1L), Option(31L)), (200L, Option(2L), Option(50L)),
        (900L, Option(9L), Option(5L)),
        (300L, Option(1L), Option.empty[Long]),
        (301L, Option.empty[Long], Option(15L)))
      .toDF("event_id", "user_id", "us")
      .createOrReplaceTempView("probe")
    // build: a null-time and a null-key row; neither may ever match
    Seq((Option(1L), Option(8L), 1000L), (Option(1L), Option(15L), 1001L),
        (Option(1L), Option(25L), 1002L), (Option(2L), Option(45L), 2000L),
        (Option(2L), Option(60L), 2001L),
        (Option(1L), Option.empty[Long], 3000L),
        (Option.empty[Long], Option(12L), 3001L))
      .toDF("b_user_id", "b_us", "b_event_id")
      .createOrReplaceTempView("build")
    s
  }

  private def rows(df: org.apache.spark.sql.DataFrame) = df
    .select("event_id", "b_us", "b_event_id").collect()
    .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
    .sortBy(r => (r._1, r._2.map(_.asInstanceOf[Long]))).toSeq

  // band [us − 10, us] over user_id
  private val wantLeft = Seq(
    (100L, Some(8L), Some(1000L)), (101L, Some(15L), Some(1001L)),
    (102L, Some(25L), Some(1002L)), (200L, Some(45L), Some(2000L)),
    (300L, None, None), (301L, None, None), (900L, None, None))
  private val wantInner = wantLeft.filter(_._2.isDefined)

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("BAND LEFT JOIN via BETWEEN: hand-checked rows, native operator") {
    val df = sql.sql(
      """SELECT event_id, b_us, b_event_id
        |FROM probe p BAND LEFT JOIN build b
        |ON p.user_id = b.b_user_id AND b.b_us BETWEEN p.us - 10 AND p.us
        |""".stripMargin)
    assert(rows(df) == wantLeft)
    assert(planOf(df).contains("BandJoin"))
  }

  test("explicit inequalities, either operand order, same rows") {
    val a = sql.sql(
      """SELECT event_id, b_us, b_event_id
        |FROM probe p BAND LEFT JOIN build b
        |ON p.user_id = b.b_user_id AND b.b_us >= p.us - 10 AND p.us >= b.b_us
        |""".stripMargin)
    val b = sql.sql(
      """SELECT event_id, b_us, b_event_id
        |FROM probe p BAND LEFT MERGE JOIN build b
        |ON b.b_user_id = p.user_id AND p.us - 10 <= b.b_us AND b.b_us <= p.us + 0
        |""".stripMargin)
    assert(rows(a) == wantLeft && rows(b) == wantLeft)
  }

  test("plain BAND JOIN is the inner variant") {
    val df = sql.sql(
      """SELECT event_id, b_us, b_event_id
        |FROM probe p BAND JOIN build b
        |ON p.user_id = b.b_user_id AND b.b_us BETWEEN p.us - 10 AND p.us
        |""".stripMargin)
    assert(rows(df) == wantInner)
  }

  test("BROADCAST hint picks the broadcast band operator") {
    val df = sql.sql(
      """SELECT event_id, b_us, b_event_id
        |FROM probe p BAND LEFT BROADCAST JOIN build b
        |ON p.user_id = b.b_user_id AND b.b_us BETWEEN p.us - 10 AND p.us
        |""".stripMargin)
    assert(rows(df) == wantLeft)
    assert(planOf(df).contains("BroadcastBandJoin"))
  }

  test("SQL band == PlanBridge.bandJoin on the non-null subset") {
    val api = PlanBridge.bandJoin(
      sql.table("probe").where("user_id IS NOT NULL AND us IS NOT NULL"),
      sql.table("build").where("b_user_id IS NOT NULL AND b_us IS NOT NULL"),
      Seq("user_id" -> "b_user_id"), "us", "b_us", -10L, 0L, hint = "merge")
    assert(rows(api) == wantLeft.filterNot(r => r._1 == 300L || r._1 == 301L))
  }

  test("auto-rewrite: a stock LEFT JOIN with a band residual lands on " +
      "the native operator with identical rows") {
    val text =
      """SELECT event_id, b_us, b_event_id
        |FROM probe p LEFT JOIN build b
        |ON p.user_id = b.b_user_id AND b.b_us BETWEEN p.us - 10 AND p.us
        |""".stripMargin
    val on = sql.sql(text)
    assert(planOf(on).contains("BandJoin"), s"not rewritten:\n${planOf(on)}")
    assert(rows(on) == wantLeft)
    sql.conf.set(BandJoinAutoRewrite.ConfKey, "false")
    try {
      val off = sql.sql(text)
      assert(!planOf(off).contains("BandJoin"),
        s"rewrite fired with the conf off:\n${planOf(off)}")
      assert(rows(off) == wantLeft)
    } finally sql.conf.set(BandJoinAutoRewrite.ConfKey, "true")
  }

  test("auto-rewrite inner join, with a probe-side extra conjunct " +
      "becoming a pre-filter") {
    val text =
      """SELECT event_id, b_us, b_event_id
        |FROM probe p JOIN build b
        |ON p.user_id = b.b_user_id AND p.event_id < 150
        |  AND b.b_us BETWEEN p.us - 10 AND p.us
        |""".stripMargin
    val on = sql.sql(text)
    assert(planOf(on).contains("BandJoin"))
    assert(rows(on) == wantInner.filter(_._1 < 150L))
    sql.conf.set(BandJoinAutoRewrite.ConfKey, "false")
    try assert(rows(sql.sql(text)) == wantInner.filter(_._1 < 150L))
    finally sql.conf.set(BandJoinAutoRewrite.ConfKey, "true")
  }

  test("auto-rewrite claims a RIGHT OUTER band by side-swapping: " +
      "native operator, rows identical to the stock plan") {
    val text =
      """SELECT event_id, b_us, b_event_id
        |FROM build b RIGHT JOIN probe p
        |ON p.user_id = b.b_user_id AND b.b_us BETWEEN p.us - 10 AND p.us
        |""".stripMargin
    val on = sql.sql(text)
    assert(planOf(on).contains("BandJoin"), s"not rewritten:\n${planOf(on)}")
    assert(rows(on) == wantLeft)
    sql.conf.set(BandJoinAutoRewrite.ConfKey, "false")
    try {
      val off = sql.sql(text)
      assert(!planOf(off).contains("BandJoin"),
        s"rewrite fired with the conf off:\n${planOf(off)}")
      assert(rows(off) == wantLeft)
    } finally sql.conf.set(BandJoinAutoRewrite.ConfKey, "true")
  }

  test("KEYLESS RIGHT OUTER band is claimed too (bucketized side-swap); " +
      "rows match the stock plan") {
    val text =
      """SELECT event_id, b_us, b_event_id
        |FROM build b RIGHT JOIN probe p
        |ON b.b_us BETWEEN p.us - 10 AND p.us
        |""".stripMargin
    val on = sql.sql(text)
    assert(planOf(on).contains("BandJoin"), s"not rewritten:\n${planOf(on)}")
    sql.conf.set(BandJoinAutoRewrite.ConfKey, "false")
    val want = try rows(sql.sql(text))
      finally sql.conf.set(BandJoinAutoRewrite.ConfKey, "true")
    assert(rows(on) == want && want.nonEmpty)
  }

  test("RIGHT JOIN with a conjunct on the PRESERVED side is NOT " +
      "rewritten (it is not a filter) and stays correct") {
    val text =
      """SELECT event_id, b_us, b_event_id
        |FROM build b RIGHT JOIN probe p
        |ON p.user_id = b.b_user_id AND p.event_id < 150
        |  AND b.b_us BETWEEN p.us - 10 AND p.us
        |""".stripMargin
    val df = sql.sql(text)
    val got = rows(df)
    assert(!planOf(df).contains("BandJoin"))
    assert(got == wantLeft.map(r => if (r._1 < 150L) r else (r._1, None, None)))
  }

  test("LEFT JOIN with a probe-side ON conjunct is NOT rewritten " +
      "(it is not a filter) and stays correct") {
    val text =
      """SELECT event_id, b_us, b_event_id
        |FROM probe p LEFT JOIN build b
        |ON p.user_id = b.b_user_id AND p.event_id < 150
        |  AND b.b_us BETWEEN p.us - 10 AND p.us
        |""".stripMargin
    val df = sql.sql(text)
    val got = rows(df)
    // probe rows ≥ 150 survive null-extended — the rewrite must bow out
    assert(!planOf(df).contains("BandJoin"))
    assert(got == wantLeft.map(r => if (r._1 < 150L) r else (r._1, None, None)))
  }

  test("ev07c and ev07d both execute on the native band operator") {
    for (name <- Seq("ev07c_band_sql", "ev07d_band_auto")) {
      val df = graft.queries.Events.queries(name)(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BandJoin"), s"$name not on the operator:\n$plan")
    }
  }

  test("ev07c and ev07d reproduce ev07's aggregation exactly") {
    // the reference runs with the band rewrite off: on `spark` the
    // rewrite plans ev07 itself as the operator under test
    val ev07 = graft.queries.Events.queries("ev07_interval_join")(SparkSpec.plainSession, sf)
    val want = ev07.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(!ev07.queryExecution.executedPlan.toString.contains("BandJoin"))
    for (name <- Seq("ev07c_band_sql", "ev07d_band_auto")) {
      val got = graft.queries.Events.queries(name)(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == want, s"$name diverges from ev07")
    }
  }

  test("the auto-rewrite also claims DataFrame-API joins (it is an " +
      "optimizer rule, not a parser feature)") {
    import org.apache.spark.sql.functions.col
    val p = sql.table("probe")
    val b = sql.table("build")
    val df = p.join(b,
        p("user_id") === b("b_user_id") &&
          b("b_us") >= p("us") - 10L && b("b_us") <= p("us"),
        "left_outer")
      .select(col("event_id"), col("b_us"), col("b_event_id"))
    assert(rows(df) == wantLeft)
    assert(planOf(df).contains("BandJoin"))
  }

  test("ASOF and BAND clauses compose in one query") {
    val df = sql.sql(
      """SELECT t.event_id, t.b_us, t.b_event_id, v.a_us
        |FROM (
        |  SELECT event_id, user_id, us, b_us, b_event_id
        |  FROM probe p BAND LEFT JOIN build b
        |  ON p.user_id = b.b_user_id AND b.b_us BETWEEN p.us - 10 AND p.us
        |) t ASOF LEFT MERGE JOIN
        |  (SELECT b_user_id AS a_user_id, b_us AS a_us FROM build
        |   WHERE b_us IS NOT NULL) v
        |ON t.user_id = v.a_user_id AND t.us >= v.a_us""".stripMargin)
    val plan = planOf(df)
    assert(plan.contains("BandJoin") && plan.contains("AsofJoin"),
      s"missing an operator:\n$plan")
    // the band tier of the composed result must still be wantLeft
    assert(rows(df) == wantLeft)
  }

  test("TIMESTAMP columns with INTERVAL arithmetic are claimed — " +
      "ev07's own shape lands on the native operator") {
    val s = sql
    import s.implicits._
    Seq((1L, 1L, "2024-01-01 10:00:10"), (2L, 1L, "2024-01-01 10:00:25"),
        (3L, 2L, "2024-01-01 10:00:40"), (4L, 9L, "2024-01-01 10:00:05"))
      .toDF("t_id", "t_user", "t_s")
      .selectExpr("t_id", "t_user", "CAST(t_s AS TIMESTAMP_NTZ) AS t_ts")
      .createOrReplaceTempView("tprobe")
    Seq((1L, "2024-01-01 10:00:05", 100L), (1L, "2024-01-01 10:00:20", 101L),
        (2L, "2024-01-01 10:00:39", 200L), (2L, "2024-01-01 10:00:10", 201L))
      .toDF("u_user", "u_s", "u_id")
      .selectExpr("u_user", "CAST(u_s AS TIMESTAMP_NTZ) AS u_ts", "u_id")
      .createOrReplaceTempView("tbuild")
    val text =
      """SELECT t_id, u_id FROM tprobe p LEFT JOIN tbuild b
        |ON p.t_user = b.u_user AND b.u_ts <= p.t_ts
        |  AND b.u_ts >= p.t_ts - INTERVAL 10 SECONDS""".stripMargin
    val on = sql.sql(text)
    assert(planOf(on).contains("BandJoin"),
      s"timestamp band not claimed:\n${planOf(on)}")
    val got = on.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sorted.toSeq
    // probe 1@10: build 1@05 (within 10s); probe 2@25: 1@20; probe
    // 3@40: 2@39 (2@10 outside); probe 4: no key
    assert(got == Seq((1L, 100L), (2L, 101L), (3L, 200L), (4L, -1L)))
    sql.conf.set(BandJoinAutoRewrite.ConfKey, "false")
    try {
      val off = sql.sql(text).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .sorted.toSeq
      assert(off == got, "timestamp rewrite diverges from the stock join")
    } finally sql.conf.set(BandJoinAutoRewrite.ConfKey, "true")
  }

  test("the explicit BAND JOIN clause accepts TIMESTAMP ± INTERVAL " +
      "arithmetic (round-16: normalizeTimeArith handles the analyzer's " +
      "Cast(DatetimeSub) rewrite of the clause's ON)") {
    val s = sql
    import s.implicits._
    Seq((1L, 1L, "2024-01-01 10:00:10"), (2L, 1L, "2024-01-01 10:00:25"),
        (3L, 2L, "2024-01-01 10:00:40"), (4L, 9L, "2024-01-01 10:00:05"))
      .toDF("c_id", "c_user", "c_s")
      .selectExpr("c_id", "c_user", "CAST(c_s AS TIMESTAMP) AS c_ts")
      .createOrReplaceTempView("cprobe")
    Seq((1L, "2024-01-01 10:00:05", 100L), (1L, "2024-01-01 10:00:20", 101L),
        (2L, "2024-01-01 10:00:39", 200L), (2L, "2024-01-01 10:00:10", 201L))
      .toDF("d_user", "d_s", "d_id")
      .selectExpr("d_user", "CAST(d_s AS TIMESTAMP) AS d_ts", "d_id")
      .createOrReplaceTempView("dbuild")
    val df = sql.sql(
      """SELECT c_id, d_id FROM cprobe BAND LEFT JOIN dbuild
        |ON c_user = d_user AND d_ts <= c_ts
        |  AND d_ts >= c_ts - INTERVAL 10 SECONDS""".stripMargin)
    assert(planOf(df).contains("BandJoin"),
      s"BAND JOIN clause with INTERVAL not lowered:\n${planOf(df)}")
    val got = df.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sorted.toSeq
    assert(got == Seq((1L, 100L), (2L, 101L), (3L, 200L), (4L, -1L)))
  }

  test("ev07 itself — the original timestamp interval query — runs on " +
      "the native operator under the extensions session") {
    val df = graft.queries.Events.queries("ev07_interval_join")(sql, sf)
    df.collect()
    assert(planOf(df).contains("BandJoin"),
      s"ev07 not rewritten:\n${planOf(df)}")
    // parity with the stock plan on the same session
    sql.conf.set(BandJoinAutoRewrite.ConfKey, "false")
    try {
      val off = graft.queries.Events.queries("ev07_interval_join")(sql, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val on = df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(on == off, "ev07 rewrite changed the aggregation")
    } finally sql.conf.set(BandJoinAutoRewrite.ConfKey, "true")
  }

  test("an interval-overlap join (two DIFFERENT build time attrs) is " +
      "not claimed by the rewrite") {
    val s = sql
    import s.implicits._
    Seq((1L, 5L, 15L), (1L, 20L, 30L))
      .toDF("i_user_id", "t_lo", "t_hi").createOrReplaceTempView("spans")
    val df = sql.sql(
      """SELECT event_id, t_lo FROM probe p JOIN spans s
        |ON p.user_id = s.i_user_id AND p.us >= s.t_lo AND p.us <= s.t_hi
        |""".stripMargin)
    assert(!planOf(df).contains("BandJoin"))
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((100L, 5L), (101L, 20L)))
  }
}
