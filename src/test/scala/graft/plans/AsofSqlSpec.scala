package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge

/** The `ASOF JOIN` SQL surface: every variant the Column API exposes
  * ({backward, forward} × {merge, broadcast, auto} × tolerance ×
  * {left, inner}) must be reachable from SQL and produce results
  * identical to the PlanBridge.asofJoin form, through a fresh child of
  * the engine's session — GraftExtensions via the extension injection
  * points. */
class AsofSqlSpec extends SparkSpec {

  private lazy val sql = {
    val s = spark.newSession()
    import s.implicits._
    Seq((1L, 10L, 100L), (1L, 20L, 101L), (1L, 30L, 102L),
      (2L, 50L, 200L), (9L, 5L, 900L))
      .toDF("v_user_id", "v_us", "v_event_id")
      .createOrReplaceTempView("views")
    Seq((1L, 1L, 25L), (2L, 1L, 20L), (3L, 1L, 9L),
      (4L, 2L, 99L), (5L, 3L, 7L))
      .toDF("event_id", "user_id", "us")
      .createOrReplaceTempView("purchases")
    s
  }

  private def rows(df: org.apache.spark.sql.DataFrame) = df
    .select("event_id", "v_us", "v_event_id").collect()
    .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
    .sortBy(_._1).toSeq

  private def api(hint: String, direction: String = "backward",
      tolUs: Long = -1L) = {
    import sql.implicits._
    PlanBridge.asofJoin(
      sql.table("purchases"), sql.table("views"),
      Seq("user_id" -> "v_user_id"), "us", "v_us",
      hint = hint, direction = direction, toleranceUs = tolUs)
  }

  test("ASOF LEFT JOIN (backward) matches the Column API, both hints") {
    for (h <- Seq("MERGE", "BROADCAST")) {
      val got = rows(sql.sql(
        s"""SELECT * FROM purchases p ASOF LEFT $h JOIN views v
           |ON p.user_id = v.v_user_id AND p.us >= v.v_us""".stripMargin))
      assert(got == rows(api(h.toLowerCase)), s"hint $h diverged")
      assert(got == Seq(
        (1L, Some(20L), Some(101L)), (2L, Some(20L), Some(101L)),
        (3L, None, None), (4L, Some(50L), Some(200L)), (5L, None, None)))
    }
  }

  test("forward direction via <=, either operand order") {
    val want = rows(api("merge", "forward"))
    val a = rows(sql.sql(
      """SELECT * FROM purchases p ASOF LEFT MERGE JOIN views v
        |ON p.user_id = v.v_user_id AND p.us <= v.v_us""".stripMargin))
    val b = rows(sql.sql(
      """SELECT * FROM purchases p ASOF LEFT MERGE JOIN views v
        |ON v.v_user_id = p.user_id AND v.v_us >= p.us""".stripMargin))
    assert(a == want && b == want)
    assert(a == Seq(
      (1L, Some(30L), Some(102L)), (2L, Some(20L), Some(101L)),
      (3L, Some(10L), Some(100L)), (4L, None, None), (5L, None, None)))
  }

  test("TOLERANCE bounds the match distance") {
    val got = rows(sql.sql(
      """SELECT * FROM purchases p ASOF LEFT MERGE JOIN views v
        |ON p.user_id = v.v_user_id AND p.us >= v.v_us
        |TOLERANCE 5""".stripMargin))
    assert(got == rows(api("merge", tolUs = 5L)))
    // probe 1 at us=25 is 5 from view 20 (kept); probe 4 at 99 is 49
    // from view 50 (dropped)
    assert(got == Seq(
      (1L, Some(20L), Some(101L)), (2L, Some(20L), Some(101L)),
      (3L, None, None), (4L, None, None), (5L, None, None)))
  }

  test("plain ASOF JOIN is the inner variant: unmatched probes drop") {
    val got = rows(sql.sql(
      """SELECT * FROM purchases p ASOF JOIN views v
        |ON p.user_id = v.v_user_id AND p.us >= v.v_us""".stripMargin))
    assert(got == Seq(
      (1L, Some(20L), Some(101L)), (2L, Some(20L), Some(101L)),
      (4L, Some(50L), Some(200L))))
  }

  test("the SQL plan lowers to the native operator (no stock join)") {
    val df = sql.sql(
      """SELECT * FROM purchases p ASOF LEFT MERGE JOIN views v
        |ON p.user_id = v.v_user_id AND p.us >= v.v_us""".stripMargin)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("AsofJoin"), s"no AsofJoinExec in:\n$plan")
    val broad = sql.sql(
      """SELECT * FROM purchases p ASOF LEFT BROADCAST JOIN views v
        |ON p.user_id = v.v_user_id AND p.us >= v.v_us""".stripMargin)
    broad.collect()
    assert(broad.queryExecution.executedPlan.toString
      .contains("BroadcastAsofJoin"))
  }

  test("subquery build side with its own ON parses (depth-aware ON scan)") {
    val got = rows(sql.sql(
      """SELECT * FROM purchases p ASOF LEFT MERGE JOIN (
        |  SELECT a.v_user_id, a.v_us, a.v_event_id
        |  FROM views a JOIN views b ON a.v_event_id = b.v_event_id
        |) v
        |ON p.user_id = v.v_user_id AND p.us >= v.v_us""".stripMargin))
    assert(got == rows(api("merge")))
  }

  test("downstream SQL composes: aggregation over the as-of result") {
    val got = sql.sql(
      """SELECT user_id, count(v_event_id) AS n
        |FROM purchases p ASOF LEFT MERGE JOIN views v
        |ON p.user_id = v.v_user_id AND p.us >= v.v_us
        |GROUP BY user_id ORDER BY user_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 2L), (2L, 1L), (3L, 0L)))
  }

  test("SQL surface has SQL null semantics: null keys and times never " +
      "match (unlike the Column API's documented natural-ordering raw " +
      "operator)") {
    val s = sql
    import s.implicits._
    // null-key and null-time rows on BOTH sides; under the raw
    // operator's natural key ordering the null keys would pair up
    Seq((Option(1L), Option(10L), 100L), (Option.empty[Long], Option(20L), 101L),
        (Option(1L), Option.empty[Long], 102L))
      .toDF("n_user", "n_us", "n_event").createOrReplaceTempView("nviews")
    Seq((1L, Option(1L), Option(25L)), (2L, Option.empty[Long], Option(25L)),
        (3L, Option(1L), Option.empty[Long]))
      .toDF("p_id", "p_user", "p_us").createOrReplaceTempView("nprobes")
    val got = sql.sql(
      """SELECT p_id, n_us, n_event FROM nprobes ASOF LEFT MERGE JOIN nviews
        |ON p_user = n_user AND p_us >= n_us""".stripMargin)
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
      .sortBy(_._1).toSeq
    // probe 1 matches the only non-null (key, time) view; the null-key
    // probe and the null-time probe come back unmatched
    assert(got == Seq(
      (1L, Some(10L), Some(100L)), (2L, None, None), (3L, None, None)))
    // inner variant drops them entirely
    val inner = sql.sql(
      """SELECT p_id FROM nprobes ASOF JOIN nviews
        |ON p_user = n_user AND p_us >= n_us""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    assert(inner == Seq(1L))
  }

  test("ASOF SQL works directly on timestamp columns (physically long " +
      "micros; no unix_micros conversion required)") {
    val s = sql
    import s.implicits._
    Seq((1L, "2024-03-01 09:00:05"), (1L, "2024-03-01 09:00:20"),
        (2L, "2024-03-01 09:00:50"))
      .toDF("tv_user", "tv_s")
      .selectExpr("tv_user", "CAST(tv_s AS TIMESTAMP_NTZ) AS tv_ts")
      .createOrReplaceTempView("tviews")
    Seq((1L, 1L, "2024-03-01 09:00:25"), (2L, 2L, "2024-03-01 09:00:40"),
        (3L, 9L, "2024-03-01 09:00:10"))
      .toDF("tp_id", "tp_user", "tp_s")
      .selectExpr("tp_id", "tp_user", "CAST(tp_s AS TIMESTAMP_NTZ) AS tp_ts")
      .createOrReplaceTempView("tprobes")
    val got = sql.sql(
      """SELECT tp_id, tv_ts FROM tprobes ASOF LEFT MERGE JOIN tviews
        |ON tp_user = tv_user AND tp_ts >= tv_ts""".stripMargin)
      .selectExpr("tp_id", "CAST(tv_ts AS STRING) AS m")
      .collect().map(r => (r.getLong(0), Option(r.getString(1))))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, Some("2024-03-01 09:00:20")), // latest view at-or-before 09:00:25
      (2L, None),                        // user 2's view is AFTER the probe
      (3L, None)))                       // no views for user 9
  }

  test("non-asof SQL is untouched by the delegating parser") {
    val got = sql.sql(
      "SELECT count(*) FROM purchases JOIN views ON user_id = v_user_id")
      .head.getLong(0)
    assert(got == 10L) // 3 probe rows keyed 1 × 3 views + 1 keyed 2 × 1
  }

  test("string literals survive the rewrite: TOLERANCE and join " +
      "keywords inside quotes are never rewritten") {
    // pure-literal query: ASOF/BAND/TOLERANCE appear ONLY inside
    // strings, so the parser must leave the text byte-identical
    assert(!AsofSqlRewrite.applicable(
      "SELECT 'ASOF JOIN x TOLERANCE 5' AS s FROM purchases"))
    val lit = sql.sql(
      "SELECT 'ASOF JOIN views TOLERANCE 5' AS s FROM purchases LIMIT 1")
      .head.getString(0)
    assert(lit == "ASOF JOIN views TOLERANCE 5")
    // mixed query: a REAL asof clause coexists with literals that spell
    // the keywords — the clause lowers, the literals pass unrewritten
    val df = sql.sql(
      """SELECT event_id, 'TOLERANCE 5' AS a, "BAND JOIN b" AS b
        |FROM purchases p ASOF LEFT MERGE JOIN views v
        |ON p.user_id = v.v_user_id AND p.us >= v.v_us
        |TOLERANCE 5""".stripMargin)
    val r = df.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
    assert(r.forall { case (_, a, b) =>
      a == "TOLERANCE 5" && b == "BAND JOIN b" })
    assert(r.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
    // and the REAL tolerance still applied (probe 4 at distance 49 has
    // no match — checked through the lowered plan's output)
    val tolApplied = sql.sql(
      """SELECT event_id, v_us, 'x TOLERANCE 99 y' AS lit
        |FROM purchases p ASOF LEFT MERGE JOIN views v
        |ON p.user_id = v.v_user_id AND p.us >= v.v_us
        |TOLERANCE 5""".stripMargin)
      .collect().map(r => (r.getLong(0), Option(r.get(1)), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(tolApplied.find(_._1 == 4L).get._2.isEmpty)
    assert(tolApplied.forall(_._3 == "x TOLERANCE 99 y"))
  }

  test("backslash-escaped quotes inside literals do not desynchronize " +
      "the quote mask: the real clause still lowers, the literal survives") {
    val df = sql.sql(
      """SELECT event_id, 'it\'s ASOF JOIN x TOLERANCE 9' AS lit, v_us
        |FROM purchases p ASOF LEFT MERGE JOIN views v
        |ON p.user_id = v.v_user_id AND p.us >= v.v_us""".stripMargin)
    val r = df.collect().map(x =>
      (x.getLong(0), x.getString(1), Option(x.get(2)))).sortBy(_._1).toSeq
    assert(r.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(r.forall(_._2 == "it's ASOF JOIN x TOLERANCE 9"))
    // the clause actually lowered (probe 1's match present)
    assert(r.find(_._1 == 1L).get._3.contains(20L))
  }
}
