package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The keyless as-of composition ([[AsofKeyless.asofJoinKeyless]]):
  * exact parity with a brute-force latest-at-or-before reference
  * across directions and tolerances, carry-table reachback across
  * empty buckets, null handling, and the two-operator plan shape. */
class AsofKeylessSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame) = df
    .select("id", "b_id").collect()
    .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
    .sortBy(_._1).toSeq

  test("hand-checked: latest-at-or-before across the whole table, " +
      "including reachback far past the probe's own bucket") {
    import spark.implicits._
    // build times cluster at the start; probes far later must reach
    // back across many empty buckets
    val build = Seq((10L, 100L), (20L, 101L), (1000000L, 102L))
      .toDF("bt", "b_id")
    val probe = Seq((1L, 5L), (2L, 10L), (3L, 25L), (4L, 999999L),
      (5L, 1000000L), (6L, 50000000L)).toDF("id", "t")
    val got = rows(AsofKeyless.asofJoinKeyless(probe, build, "t", "bt"))
    assert(got == Seq((1L, None), (2L, Some(100L)), (3L, Some(101L)),
      (4L, Some(101L)), (5L, Some(102L)), (6L, Some(102L))))
    // forward: earliest at-or-after
    val fwd = rows(AsofKeyless.asofJoinKeyless(probe, build, "t", "bt",
      direction = "forward"))
    assert(fwd == Seq((1L, Some(100L)), (2L, Some(100L)), (3L, Some(102L)),
      (4L, Some(102L)), (5L, Some(102L)), (6L, None)))
  }

  test("randomized parity with the brute-force reference, both " +
      "directions x tolerance, times spanning zero") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val probe = (0 until 400).map(i =>
      (i.toLong, rnd.nextInt(2000).toLong - 1000L)).toDF("id", "t")
    // unique build times (the operator contract), spanning negatives
    val build = rnd.shuffle((0 until 250).toList).take(150).zipWithIndex
      .map { case (t, j) => (t.toLong * 13 - 800L, 1000L + j) }
      .toDF("bt", "b_id")
    for (dir <- Seq("backward", "forward"); tol <- Seq(-1L, 100L)) {
      val got = rows(AsofKeyless.asofJoinKeyless(probe, build, "t", "bt",
        direction = dir, toleranceUs = tol))
      val cmp = if (dir == "backward") col("bt") <= col("t")
        else col("bt") >= col("t")
      val dist = if (dir == "backward") col("t") - col("bt")
        else col("bt") - col("t")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(dist)
      val want = rows(probe.join(build,
          cmp && (if (tol < 0) lit(true) else dist <= tol), "left_outer")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 || col("b_id").isNull))
      assert(got == want, s"dir=$dir tol=$tol diverged")
      assert(got.exists(_._2.isDefined))
      // unmatched probes are only guaranteed below the earliest build
      // time, which this corpus has on the backward side
      if (dir == "backward") assert(got.exists(_._2.isEmpty))
    }
  }

  test("hint steers the IN-BUCKET join: broadcast parity with the " +
      "default merge, bad hints refused") {
    import spark.implicits._
    val build = Seq((10L, 100L), (20L, 101L), (1000000L, 102L))
      .toDF("bt", "b_id")
    val probe = Seq((1L, 5L), (2L, 10L), (3L, 25L), (4L, 999999L),
      (5L, 1000000L), (6L, 50000000L)).toDF("id", "t")
    val want = rows(AsofKeyless.asofJoinKeyless(probe, build, "t", "bt"))
    val bc = AsofKeyless.asofJoinKeyless(probe, build, "t", "bt",
      hint = "broadcast")
    assert(rows(bc) == want)
    // the in-bucket operator really is the broadcast exec
    bc.collect()
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: walk(q.plan)
      case _ => p +: p.children.flatMap(walk)
    }
    val plans = walk(bc.queryExecution.executedPlan)
    assert(plans.count(_.isInstanceOf[BroadcastAsofJoinExec]) == 2,
      "expected BOTH joins broadcast under the broadcast hint")
    assert(!plans.exists(_.isInstanceOf[AsofJoinExec]))
    intercept[IllegalArgumentException] {
      AsofKeyless.asofJoinKeyless(probe, build, "t", "bt", hint = "hash")
    }
  }

  test("null-time probes emit the null-extended row; null-time build " +
      "rows never match; empty build yields all-null right side") {
    import spark.implicits._
    val probe = Seq((1L, Option(10L)), (2L, Option.empty[Long]))
      .toDF("id", "t")
    val build = Seq((Option(5L), 100L), (Option.empty[Long], 999L))
      .toDF("bt", "b_id")
    val got = AsofKeyless.asofJoinKeyless(probe, build, "t", "bt")
      .select("id", "b_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1).toSeq
    assert(got == Seq((1L, Some(100L)), (2L, None)))
    val empty = AsofKeyless.asofJoinKeyless(probe,
      Seq.empty[(Long, Long)].toDF("bt", "b_id"), "t", "bt")
    assert(empty.count() == 2 && empty.select("b_id").collect()
      .forall(_.isNullAt(0)))
  }

  test("a plan built over an EMPTY build side is the REAL composition " +
      "at a default width, not a frozen all-null projection") {
    import spark.implicits._
    val dir = tempDir("graft_ka_late").toString
    Seq.empty[(Long, Long)].toDF("bt", "b_id")
      .write.mode("overwrite").parquet(s"$dir/build.parquet")
    val probe = Seq((1L, 25L), (2L, 5L)).toDF("id", "t")
    val joined = AsofKeyless.asofJoinKeyless(probe,
      spark.read.parquet(s"$dir/build.parquet"), "t", "bt")
    // empty-at-plan-time: all-null results, but through the OPERATOR
    // plan (the never-pin-an-empty-verdict rule) — a literal-null
    // short-circuit would freeze emptiness into every later use of the
    // same logical shape
    assert(joined.select("b_id").collect().forall(_.isNullAt(0)))
    assert(joined.queryExecution.analyzed.collectFirst {
        case j: TimeJoinPlan => j }.isDefined,
      "empty build short-circuited to a literal-null projection")
    // data lands; a fresh plan over the same path matches (Spark's own
    // per-DataFrame file-listing snapshot is out of scope here)
    Seq((10L, 100L), (20L, 101L)).toDF("bt", "b_id")
      .write.mode("append").parquet(s"$dir/build.parquet")
    spark.catalog.refreshByPath(s"$dir/build.parquet")
    val got = rows(AsofKeyless.asofJoinKeyless(probe,
      spark.read.parquet(s"$dir/build.parquet"), "t", "bt"))
    assert(got == Seq((1L, Some(101L)), (2L, None)),
      s"late-arriving build not seen: $got")
  }

  test("matched rows never borrow carry-row values for their own null " +
      "payload columns (whole-row selection, not per-column coalesce)") {
    import spark.implicits._
    // bucket width will be (300-10)/... = 1 -> probes and builds
    // co-bucket; the matched row at bt=300 has a NULL payload while an
    // earlier build row has payload 7 — the null must survive
    val build = Seq((10L, Option(7L)), (300L, Option.empty[Long]))
      .toDF("bt", "payload")
    val probe = Seq((1L, 300L)).toDF("id", "t")
    val out = AsofKeyless.asofJoinKeyless(probe, build, "t", "bt")
      .select("bt", "payload").head
    assert(out.getLong(0) == 300L && out.isNullAt(1),
      s"matched row's null payload was replaced: $out")
  }

  test("keyless ASOF SQL clause lowers to the composition (left and " +
      "inner variants, tolerance), matching the DataFrame API") {
    val sql = spark.newSession()
    import sql.implicits._
    Seq((10L, 100L), (20L, 101L), (1000000L, 102L))
      .toDF("bt", "b_id").createOrReplaceTempView("kabuild")
    Seq((1L, 5L), (2L, 10L), (3L, 25L), (4L, 1000000L))
      .toDF("id", "t").createOrReplaceTempView("kaprobe")
    def rs(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "b_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
      .sortBy(_._1).toSeq
    val left = rs(sql.sql(
      """SELECT * FROM kaprobe p ASOF LEFT JOIN kabuild b
        |ON p.t >= b.bt""".stripMargin))
    assert(left == Seq((1L, None), (2L, Some(100L)), (3L, Some(101L)),
      (4L, Some(102L))))
    assert(left == rs(AsofKeyless.asofJoinKeyless(
      sql.table("kaprobe"), sql.table("kabuild"), "t", "bt")))
    // inner variant drops the unmatched probe
    val inner = rs(sql.sql(
      """SELECT * FROM kaprobe p ASOF JOIN kabuild b
        |ON p.t >= b.bt""".stripMargin))
    assert(inner == left.filter(_._2.isDefined))
    // tolerance nulls the distant match (probe 3 is 5 from bt=20)
    val tol = rs(sql.sql(
      """SELECT * FROM kaprobe p ASOF LEFT JOIN kabuild b
        |ON p.t >= b.bt TOLERANCE 5""".stripMargin))
    assert(tol == Seq((1L, None), (2L, Some(100L)), (3L, Some(101L)),
      (4L, Some(102L))))
    val tol2 = rs(sql.sql(
      """SELECT * FROM kaprobe p ASOF LEFT JOIN kabuild b
        |ON p.t >= b.bt TOLERANCE 4""".stripMargin))
    assert(tol2 == Seq((1L, None), (2L, Some(100L)), (3L, None),
      (4L, Some(102L))))
    // forward direction via <=
    val fwd = rs(sql.sql(
      """SELECT * FROM kaprobe p ASOF LEFT JOIN kabuild b
        |ON p.t <= b.bt""".stripMargin))
    assert(fwd == Seq((1L, Some(100L)), (2L, Some(100L)), (3L, Some(102L)),
      (4L, Some(102L))))
    // TIMESTAMP times ride the shadow-micros projection: the output
    // keeps the original timestamp type and the match is identical
    Seq((1L, "2024-03-01 09:00:25"), (2L, "2024-03-01 08:59:00"))
      .toDF("id", "s")
      .selectExpr("id", "CAST(s AS TIMESTAMP_NTZ) AS t")
      .createOrReplaceTempView("katprobe")
    Seq(("2024-03-01 09:00:05", 100L), ("2024-03-01 09:00:50", 102L))
      .toDF("s", "b_id")
      .selectExpr("CAST(s AS TIMESTAMP_NTZ) AS bt", "b_id")
      .createOrReplaceTempView("katbuild")
    val ts = sql.sql(
      """SELECT id, b_id, CAST(bt AS STRING) AS m
        |FROM katprobe p ASOF LEFT JOIN katbuild b
        |ON p.t >= b.bt""".stripMargin)
      .collect().map(r => (r.getLong(0), Option(r.get(1)),
        Option(r.getString(2)))).sortBy(_._1).toSeq
    assert(ts == Seq(
      (1L, Some(100L), Some("2024-03-01 09:00:05")),
      (2L, None, None)), s"timestamp keyless asof: $ts")
  }

  test("plan construction + EXPLAIN launch ZERO jobs (bucket width is a " +
      "lazy scalar subquery, not an eager aggregate)") {
    import spark.implicits._
    val probe = (0 until 50).map(i => (i.toLong, i.toLong * 7)).toDF("id", "t")
    val build = (0 until 20).map(j => (j.toLong * 23, 1000L + j)).toDF("bt", "b_id")
    // job groups are thread-local, so parallel suites sharing the
    // session can't pollute this group's job list
    val group = s"graft-ka-explain-${java.util.UUID.randomUUID()}"
    spark.sparkContext.setJobGroup(group, "keyless asof explain audit")
    try {
      val df = AsofKeyless.asofJoinKeyless(probe, build, "t", "bt")
      // force analysis, optimization, physical planning, and the
      // explain string — the full pre-execution lifecycle
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExtendedMode)
    } finally spark.sparkContext.clearJobGroup()
    Thread.sleep(500) // listener-bus drain (status tracker is async)
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(group)
    assert(jobs.isEmpty,
      s"plan construction/EXPLAIN launched jobs: ${jobs.mkString(",")}")
  }

  test("plan shape: an in-bucket MERGE as-of plus a BROADCAST fallback, " +
      "no band replication anywhere") {
    import spark.implicits._
    val probe = (0 until 100).map(i => (i.toLong, i.toLong * 7)).toDF("id", "t")
    val build = (0 until 30).map(j => (j.toLong * 23, 1000L + j)).toDF("bt", "b_id")
    val df = AsofKeyless.asofJoinKeyless(probe, build, "t", "bt")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin"), s"no AsofJoinExec in:\n$plan")
    assert(plan.contains("BroadcastAsofJoin"),
      s"no broadcast fallback in:\n$plan")
  }
}
