package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge

/** Gates for the native band-join operator: hand-checked edge
  * semantics, randomized parity with the equi-join + range-residual
  * form, ev07b == ev07 on the reference corpus, and the physical
  * shape (BandJoinExec planned, probe partitioning survives). */
class BandJoinSpec extends SparkSpec {

  private def band(l: org.apache.spark.sql.DataFrame,
      r: org.apache.spark.sql.DataFrame, lo: Long, hi: Long) =
    PlanBridge.bandJoin(l, r, Seq("k" -> "bk"), "t", "bt", lo, hi)

  test("edge semantics: inclusive bounds, all matches emitted, " +
      "no-match null row, passed keys skipped") {
    import spark.implicits._
    val build = Seq(
      (1L, 10L, 100L), (1L, 20L, 101L), (1L, 20L, 102L), (1L, 30L, 103L),
      (2L, 50L, 200L),
      (9L, 5L, 900L))
      .toDF("bk", "bt", "bid")
    val probe = Seq(
      (1L, 1L, 20L),  // band [10,20]: rows 10,20,20 (dup time BOTH)
      (2L, 1L, 31L),  // band [21,31]: row 30
      (3L, 1L, 45L),  // band [35,45]: none -> null
      (4L, 2L, 60L),  // band [50,60]: row 50
      (5L, 3L, 7L))   // no build key -> null
      .toDF("id", "k", "t")
    val out = band(probe, build, -10L, 0L)
      .select("id", "bid").collect()
      .map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]))).sorted.toSeq
    assert(out == Seq(
      (1L, Some(100L)), (1L, Some(101L)), (1L, Some(102L)),
      (2L, Some(103L)), (3L, None), (4L, Some(200L)), (5L, None)))
    // forward band [0, +10]: probe 1 at 20 sees 20,20,30
    val fwd = band(probe, build, 0L, 10L)
      .filter(col("id") === 1L).select("bid").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(fwd == Seq(101L, 102L, 103L))
  }

  test("randomized parity with the equi-join + range residual, " +
      "symmetric and asymmetric bands") {
    val rnd = new scala.util.Random(13)
    val probeRows = (0 until 500).map(i =>
      (i.toLong, rnd.nextInt(8).toLong, rnd.nextInt(200).toLong))
    val buildRows = (0 until 300).map(j =>
      (rnd.nextInt(10).toLong, rnd.nextInt(200).toLong, 1000L + j))
    def frames(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      (probeRows.toDF("id", "k", "t"), buildRows.toDF("bk", "bt", "bid"))
    }
    val (probe, build) = frames(spark)
    val (stockProbe, stockBuild) = frames(SparkSpec.plainSession)
    for ((lo, hi) <- Seq((-25L, 0L), (-15L, 15L), (5L, 40L))) {
      val native = band(probe, build, lo, hi)
        .select("id", "bid").collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
        .sorted.toSeq
      val residualDf = stockProbe.join(stockBuild,
          col("k") === col("bk") &&
            col("bt") >= col("t") + lo && col("bt") <= col("t") + hi,
          "left_outer")
        .select("id", "bid")
      val residual = residualDf.collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
        .sorted.toSeq
      assert(!residualDf.queryExecution.executedPlan.toString.contains("BandJoin"))
      assert(native == residual, s"band [$lo,$hi] diverged")
    }
  }

  test("ev07b native band == ev07 residual form, row for row") {
    val ev07 = graft.queries.Events.queries("ev07_interval_join")(SparkSpec.plainSession, sf)
    val a = ev07.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(!ev07.queryExecution.executedPlan.toString.contains("BandJoin"))
    val b = graft.queries.Events.queries("ev07b_interval_native")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a.nonEmpty && a == b)
  }

  test("broadcast band variant: identical rows, probe never shuffles") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val probe = (0 until 400).map(i =>
      (i.toLong, rnd.nextInt(6).toLong, rnd.nextInt(150).toLong))
      .toDF("id", "k", "t")
    val build = (0 until 200).map(j =>
      (rnd.nextInt(8).toLong, rnd.nextInt(150).toLong, 1000L + j))
      .toDF("bk", "bt", "bid")
    def rows(hint: String) = PlanBridge.bandJoin(probe, build,
        Seq("k" -> "bk"), "t", "bt", -20L, 5L, hint)
      .select("id", "bid").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
      .sorted.toSeq
    assert(rows("broadcast") == rows("merge"))
    val df = PlanBridge.bandJoin(probe, build,
      Seq("k" -> "bk"), "t", "bt", -20L, 5L, "broadcast")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastBandJoin"), s"no BroadcastBandJoinExec:\n$plan")
    // probe side: no shuffle exchange at all (only the broadcast one)
    assert(!"(?i)exchange hashpartitioning".r.findFirstIn(plan).isDefined,
      s"probe side shuffled:\n$plan")
  }

  test("physical shape: BandJoinExec planned, one exchange per side, " +
      "probe-side partitioning survives a downstream per-key agg") {
    import spark.implicits._
    val probe = (0 until 100).map(i => (i.toLong, (i % 5).toLong, i.toLong * 3))
      .toDF("id", "k", "t")
    val build = (0 until 50).map(j => ((j % 5).toLong, j.toLong * 7, 1000L + j))
      .toDF("bk", "bt", "bid")
    def merged() = PlanBridge.bandJoin(probe, build,
      Seq("k" -> "bk"), "t", "bt", -20L, 0L, "merge")
    val joined = merged()
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BandJoin"), s"no BandJoinExec in:\n$plan")
    def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      "(?i)exchange".r.findAllIn(p).size -
        "(?i)reusedexchange".r.findAllIn(p).size
    }
    val base = exchanges(merged())
    val withAgg = exchanges(merged()
      .groupBy(col("k")).agg(count(lit(1))))
    assert(withAgg == base, s"per-key agg added an exchange: $base -> $withAgg")
    // whole-stage codegen wraps the merge (the `*(n)` prefix); with
    // whole-stage codegen off the iterator path gives identical rows
    assert("\\*\\(\\d+\\) BandJoin".r.findFirstIn(plan).isDefined,
      s"BandJoinExec not inside WholeStageCodegen:\n$plan")
    val want = merged().collect().map(_.toString).sorted.toSeq
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val off = merged()
      off.collect()
      val offPlan = off.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!"\\*\\(\\d+\\) BandJoin".r.findFirstIn(offPlan).isDefined,
        s"codegen fired with the conf off:\n$offPlan")
      assert(off.collect().map(_.toString).sorted.toSeq == want)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }
}
