package graft.plans

import graft.SparkSpec
import graft.queries.Events
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge

/** Gates for the native as-of operator (TimeJoinPlan/Strategy/Exec):
  * result parity with ev08's union+window form, the promised physical
  * shape (one exchange per side, partitioning survives the operator),
  * hand-checked edge semantics, and the SparkSessionExtensions wiring.
  */
class AsofPlanSpec extends SparkSpec {

  test("ev08b native as-of == ev08 window form, row for row") {
    val a = Events.queries("ev08_asof_join")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)), Option(r.get(4)))).sortBy(_._1)
    val b = Events.queries("ev08b_asof_native")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)), Option(r.get(4)))).sortBy(_._1)
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("physical plan: AsofJoinExec present, bounded exchanges, " +
      "probe partitioning survives a downstream per-key agg") {
    def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect() // materialize so AQE finalizes the plan
      // AQE's toString prints Final AND Initial plan sections — count
      // exchanges only in the final one
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("AsofJoin"), s"no AsofJoinExec in:\n$plan")
      "(?i)exchange".r.findAllIn(plan).size -
        "(?i)reusedexchange".r.findAllIn(plan).size
    }
    // 3 exchanges: purchases→user_id, views agg→(user_id,us), views
    // re-key→user_id — the same shuffle volume as ev08's union+window
    // form (views twice, purchases once)
    val base = exchanges(Events.queries("ev08b_asof_native")(spark, sf))
    assert(base == 3, s"expected 3 exchanges, got $base")
    // the groupBy(user_id) on top must reuse the probe side's
    // partitioning (outputPartitioning contract): still 3, not 4
    val withAgg = exchanges(Events.queries("ev08b_asof_native")(spark, sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n")))
    assert(withAgg == 3, s"agg added an exchange: $withAgg")
  }

  test("whole-stage codegen wraps the broadcast probe INTO the scan " +
      "stage (no iterator boundary); the iterator path gives the same rows") {
    import spark.implicits._
    val probe = (0 until 200).map(i =>
      (i.toLong, (i % 7).toLong, (i * 3).toLong)).toDF("id", "k", "t")
    val build = (0 until 40).map(j =>
      ((j % 7).toLong, (j * 11).toLong, 1000L + j)).toDF("bk", "bt", "bid")
    def run() = PlanBridge.asofJoin(probe, build,
      Seq("k" -> "bk"), "t", "bt", hint = "broadcast")
    val on = run()
    val want = on.collect().map(_.toString).sorted.toSeq
    val plan = on.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("\\*\\(\\d+\\) BroadcastAsofJoin".r.findFirstIn(plan).isDefined,
      s"BroadcastAsofJoinExec not inside WholeStageCodegen:\n$plan")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val off = run()
      val got = off.collect().map(_.toString).sorted.toSeq
      assert(!"\\*\\(\\d+\\) BroadcastAsofJoin".r.findFirstIn(
        off.queryExecution.executedPlan.toString).isDefined)
      assert(got == want)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    // band twin: multi-row emission through the do/while consume
    def runBand() = PlanBridge.bandJoin(probe, build,
      Seq("k" -> "bk"), "t", "bt", -30L, 0L, hint = "broadcast")
    val bandOn = runBand()
    val bandWant = bandOn.collect().map(_.toString).sorted.toSeq
    assert("\\*\\(\\d+\\) BroadcastBandJoin".r.findFirstIn(
      bandOn.queryExecution.executedPlan.toString).isDefined)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(runBand().collect().map(_.toString).sorted.toSeq == bandWant)
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("whole-stage codegen wraps the merge; with whole-stage codegen " +
      "off the iterator path gives identical rows") {
    def run() = Events.queries("ev08b_asof_native")(spark, sf)
    val on = run()
    val want = on.collect().map(_.toString).sorted.toSeq
    val plan = on.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("\\*\\(\\d+\\) AsofJoin".r.findFirstIn(plan).isDefined,
      s"AsofJoinExec not inside WholeStageCodegen:\n$plan")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val off = run()
      val got = off.collect().map(_.toString).sorted.toSeq
      val offPlan = off.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!"\\*\\(\\d+\\) AsofJoin".r.findFirstIn(offPlan).isDefined,
        s"codegen fired with the conf off:\n$offPlan")
      assert(got == want)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("edge semantics: latest-at-or-before, equal-ts match, no-view null, " +
      "build-only keys ignored") {
    import spark.implicits._
    // build (views): (key, time, id)
    val views = Seq(
      (1L, 10L, 100L), (1L, 20L, 101L), (1L, 30L, 102L),
      (2L, 50L, 200L),
      (9L, 5L, 900L) // key with no probe rows
    ).toDF("v_user_id", "v_us", "v_event_id")
    // probe (purchases): (id, key, time)
    val purchases = Seq(
      (1L, 1L, 25L), // between views 20 and 30 -> 101
      (2L, 1L, 20L), // equal ts -> 101
      (3L, 1L, 9L),  // before all views -> null
      (4L, 2L, 99L), // after the only view -> 200
      (5L, 3L, 7L)   // key with no views at all -> null
    ).toDF("event_id", "user_id", "us")
    val out = PlanBridge.asofJoin(purchases, views,
        Seq("user_id" -> "v_user_id"), "us", "v_us")
      .select("event_id", "v_us", "v_event_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, Some(20L), Some(101L)),
      (2L, Some(20L), Some(101L)),
      (3L, None, None),
      (4L, Some(50L), Some(200L)),
      (5L, None, None)))
  }

  test("ev08c broadcast as-of == ev08, and its probe side never shuffles") {
    val a = Events.queries("ev08_asof_join")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)), Option(r.get(4)))).sortBy(_._1)
    val df = Events.queries("ev08c_asof_broadcast")(spark, sf)
    val b = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)), Option(r.get(4)))).sortBy(_._1)
    assert(a.nonEmpty && a.sameElements(b))
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastAsofJoin"), s"wrong operator:\n$plan")
    // the ONLY hash exchange is the view-side (user_id, us) pre-agg;
    // the purchase stream reaches the join straight from its scan
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1, s"probe side shuffled ($hashEx hash exchanges):\n$plan")
    assert("BroadcastExchange".r.findAllIn(plan).nonEmpty)
  }

  test("auto hint picks broadcast under the threshold, merge when disabled") {
    import spark.implicits._
    val views = Seq((1L, 10L, 100L)).toDF("v_user_id", "v_us", "v_event_id")
    val purchases = Seq((1L, 1L, 25L)).toDF("event_id", "user_id", "us")
    def planOf(hint: String): String = {
      val df = PlanBridge.asofJoin(purchases, views,
        Seq("user_id" -> "v_user_id"), "us", "v_us", hint)
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    }
    assert(planOf("auto").contains("BroadcastAsofJoin")) // tiny build side
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(!planOf("auto").contains("BroadcastAsofJoin")) // disabled -> merge
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    intercept[IllegalArgumentException] {
      PlanBridge.asofJoin(purchases, views,
        Seq("user_id" -> "v_user_id"), "us", "v_us", "bogus")
    }
  }

  test("broadcast path edge semantics match the merge path") {
    import spark.implicits._
    val views = Seq(
      (1L, 10L, 100L), (1L, 20L, 101L), (1L, 30L, 102L),
      (2L, 50L, 200L), (9L, 5L, 900L)
    ).toDF("v_user_id", "v_us", "v_event_id")
    val purchases = Seq(
      (1L, 1L, 25L), (2L, 1L, 20L), (3L, 1L, 9L), (4L, 2L, 99L), (5L, 3L, 7L)
    ).toDF("event_id", "user_id", "us")
    val out = PlanBridge.asofJoin(purchases, views,
        Seq("user_id" -> "v_user_id"), "us", "v_us", "broadcast")
      .select("event_id", "v_us", "v_event_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, Some(20L), Some(101L)),
      (2L, Some(20L), Some(101L)),
      (3L, None, None),
      (4L, Some(50L), Some(200L)),
      (5L, None, None)))
  }

  test("forward direction: next-at-or-after in both merge and broadcast paths") {
    import spark.implicits._
    val views = Seq(
      (1L, 10L, 100L), (1L, 20L, 101L), (1L, 30L, 102L),
      (2L, 50L, 200L), (9L, 5L, 900L)
    ).toDF("v_user_id", "v_us", "v_event_id")
    val purchases = Seq(
      (1L, 1L, 25L), // between 20 and 30 -> next is 30/102
      (2L, 1L, 20L), // equal ts -> 20/101
      (3L, 1L, 31L), // after all views -> null
      (4L, 2L, 7L),  // before the only view -> 50/200
      (5L, 3L, 7L)   // key with no views -> null
    ).toDF("event_id", "user_id", "us")
    val want = Seq(
      (1L, Some(30L), Some(102L)),
      (2L, Some(20L), Some(101L)),
      (3L, None, None),
      (4L, Some(50L), Some(200L)),
      (5L, None, None))
    for (hint <- Seq("merge", "broadcast")) {
      val out = PlanBridge.asofJoin(purchases, views,
          Seq("user_id" -> "v_user_id"), "us", "v_us", hint, "forward")
        .select("event_id", "v_us", "v_event_id").collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Long]))).sortBy(_._1)
      assert(out.toSeq == want, s"$hint path diverged: ${out.toSeq}")
    }
    intercept[IllegalArgumentException] {
      PlanBridge.asofJoin(purchases, views,
        Seq("user_id" -> "v_user_id"), "us", "v_us", "merge", "sideways")
    }
  }

  test("ev08d forward == a window-computed reference on real events") {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.Tables.load(spark, sf, "events")
      .withColumn("us", unix_micros(col("ts")))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("us"))
      .agg(max(col("event_id")).as("v_event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us"), col("event_id"))
    // reference: union + FOLLOWING-window first non-null view struct
    val tagged = views.select(col("user_id"), col("us"), lit(0).as("side"),
        lit(null).cast("long").as("event_id"),
        struct(col("us").as("v_us"), col("v_event_id")).as("v"))
      .unionByName(purchases.select(col("user_id"), col("us"), lit(1).as("side"),
        col("event_id"),
        lit(null).cast("struct<v_us:bigint,v_event_id:bigint>").as("v")))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("side").desc)
      .rowsBetween(0, Window.unboundedFollowing)
    val expect = tagged
      .withColumn("nxt", first(col("v"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("nxt.v_us"), col("nxt.v_event_id"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
      .sortBy(_._1)
    val got = Events.queries("ev08d_asof_forward")(spark, sf).collect()
      .map(r => (r.getLong(0), Option(r.get(3)), Option(r.get(4)))).sortBy(_._1)
    assert(got.nonEmpty && got.sameElements(expect))
  }

  test("tolerance nulls matches beyond the gap in both paths and directions") {
    import spark.implicits._
    val views = Seq((1L, 100L, 500L), (1L, 200L, 501L))
      .toDF("v_user_id", "v_us", "v_event_id")
    val purchases = Seq(
      (1L, 1L, 110L), // backward gap 10 (ok @ tol 50), forward gap 90 (too far)
      (2L, 1L, 195L), // backward gap 95 (too far), forward gap 5 (ok)
      (3L, 1L, 200L)  // exact hit both directions
    ).toDF("event_id", "user_id", "us")
    for (hint <- Seq("merge", "broadcast")) {
      def run(dir: String) = PlanBridge.asofJoin(purchases, views,
          Seq("user_id" -> "v_user_id"), "us", "v_us", hint, dir, 50L)
        .select("event_id", "v_event_id").collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1).toSeq
      assert(run("backward") == Seq((1L, Some(500L)), (2L, None), (3L, Some(501L))),
        s"$hint backward")
      assert(run("forward") == Seq((1L, None), (2L, Some(501L)), (3L, Some(501L))),
        s"$hint forward")
    }
  }

  test("string keys exercise the GENERIC merge path (both directions + broadcast)") {
    import spark.implicits._
    // non-Long keys bypass the single-Long fast path: this pins the
    // UnsafeProjection + natural-ordering iterator, which no Long-keyed
    // spec touches
    val views = Seq(
      ("a", 10L, 100L), ("a", 20L, 101L), ("b", 50L, 200L), ("z", 5L, 900L)
    ).toDF("v_user", "v_us", "v_event_id")
    val purchases = Seq(
      (1L, "a", 25L), (2L, "a", 15L), (3L, "a", 5L),
      (4L, "b", 99L), (5L, "c", 7L)
    ).toDF("event_id", "user", "us")
    def run(hint: String, dir: String) = PlanBridge.asofJoin(purchases, views,
        Seq("user" -> "v_user"), "us", "v_us", hint, dir)
      .select("event_id", "v_event_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1).toSeq
    for (hint <- Seq("merge", "broadcast")) {
      assert(run(hint, "backward") == Seq((1L, Some(101L)), (2L, Some(100L)),
        (3L, None), (4L, Some(200L)), (5L, None)), s"$hint backward")
      assert(run(hint, "forward") == Seq((1L, None), (2L, Some(101L)),
        (3L, Some(100L)), (4L, None), (5L, None)), s"$hint forward")
    }
    // and the merge plan really is the generic AsofJoinExec
    val plan = PlanBridge.asofJoin(purchases, views,
        Seq("user" -> "v_user"), "us", "v_us", "merge")
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin"))
  }

  test("null keys group together (natural-ordering semantics, documented)") {
    import spark.implicits._
    val views = Seq((Option(1L), 10L, 100L), (Option.empty[Long], 3L, 300L))
      .toDF("v_user_id", "v_us", "v_event_id")
    val purchases = Seq(
      (1L, Option(1L), 25L), (2L, Option.empty[Long], 9L),
      (3L, Option.empty[Long], 2L))
      .toDF("event_id", "user_id", "us")
    val out = PlanBridge.asofJoin(purchases, views,
        Seq("user_id" -> "v_user_id"), "us", "v_us")
      .select("event_id", "v_event_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, Some(100L)), (2L, Some(300L)), (3L, None)))
  }

  test("disjoint-name and Long-time contracts fail loudly") {
    import spark.implicits._
    val l = Seq((1L, 2L)).toDF("k", "t")
    val r = Seq((1L, 2L)).toDF("k", "t2")
    intercept[IllegalArgumentException] {
      PlanBridge.asofJoin(l, r, Seq("k" -> "k"), "t", "t2")
    }
    val r2 = Seq((1L, "x")).toDF("k2", "t2")
    intercept[IllegalArgumentException] {
      PlanBridge.asofJoin(l, r2, Seq("k" -> "k2"), "t", "t2").collect()
    }
  }

  test("GraftExtensions injects AsofJoinStrategy via SparkSessionExtensions") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val strategies = PlanBridge.plannerStrategies(ext, spark)
    assert(strategies.contains(AsofJoinStrategy))
  }
}
