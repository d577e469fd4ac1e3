package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge

/** The time joins' skew treatment, the AQE runtime split of a hot
  * partition (OptimizeSkewedGraftJoin): it fires on hot probe and hot
  * build partitions, never slices the build side, reverts when a
  * downstream operator needs the join's partitioning, and returns the
  * rows of the un-split join under every variant (as-of and band,
  * generic keys, the keyless composition). Spark's own
  * `spark.sql.adaptive.skewJoin.enabled` is the off switch. */
class AsofSkewSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame) = df
    .select("event_id", "b_id", "b_us").collect()
    .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
    .sortBy(_._1).toSeq

  private def bandRows(df: org.apache.spark.sql.DataFrame) = df
    .select("event_id", "b_id", "b_us").collect()
    .map(r => (r.getLong(0),
      if (r.isNullAt(1)) -1L else r.getLong(1),
      if (r.isNullAt(2)) -1L else r.getLong(2)))
    .sorted.toSeq

  // an adversarial little corpus with (tenant STRING, shard INT)
  // composite keys: ("hot", 0) carries 70% of probes, a cold key, a
  // probe-only key, ties on (key, time) and pre-history probes
  private def genericOn(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    val rnd = new scala.util.Random(13)
    val probes = (0 until 200).map { i =>
      val (t, sh) = if (i % 10 < 7) ("hot", 0) else if (i % 10 < 9) ("cold", 1) else ("lone", 2)
      (i.toLong, t, sh, rnd.nextInt(100).toLong)
    }
    val builds = (0 until 40).map { j =>
      val (t, sh) = if (j % 4 < 3) ("hot", 0) else ("cold", 1)
      (1000L + j, t, sh, (j * 7 % 100).toLong)
    }
    (probes.toDF("event_id", "tenant", "shard", "us"),
      builds.toDF("b_id", "b_tenant", "b_shard", "b_us"))
  }

  // ---- AQE runtime skew split (OptimizeSkewedGraftJoin) -------------

  private def walk(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      p +: walk(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: walk(q.plan)
    case _ => p +: p.children.flatMap(walk)
  }

  // a config-injected session with AQE on and skew thresholds tiny
  // enough that the 60%-on-one-key probe shuffle below trips them
  private lazy val aqe = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2000")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1000")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    s
  }

  /** `f` on the aqe session with the skew split on or off, through
    * Spark's own switch, which the rule checks; on again afterwards. */
  private def withSplit[A](on: Boolean)(f: => A): A = {
    aqe.conf.set("spark.sql.adaptive.skewJoin.enabled", on.toString)
    try f finally aqe.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
  }

  private lazy val (bigProbe, bigBuild) = {
    import aqe.implicits._
    val rnd = new scala.util.Random(17)
    val probes = (0 until 20000).map { i =>
      val key = if (i % 10 < 6) 1L else (i % 97).toLong + 2L
      (i.toLong, key, rnd.nextInt(100000).toLong)
    }
    val builds = (0 until 500).map { j =>
      ((j % 99).toLong + 1L, (j * 211 % 100000).toLong, 1000L + j)
    }
    (probes.toDF("event_id", "user_id", "us"),
      builds.toDF("b_key", "b_us", "b_id"))
  }

  test("AQE skew split: the stock as-of call splits the hot probe " +
      "partition at runtime — isSkewJoin plan, rows identical to the " +
      "un-split join") {
    val df = PlanBridge.asofJoin(bigProbe, bigBuild,
      Seq("user_id" -> "b_key"), "us", "b_us", hint = "merge")
    df.collect() // drive THIS QueryExecution so its adaptive plan finalizes
    val got = rows(df)
    val plans = walk(df.queryExecution.executedPlan)
    val join = plans.collectFirst { case j: AsofJoinExec => j }
    assert(join.exists(_.isSkewJoin),
      s"skew rule never fired:\n${df.queryExecution.executedPlan}")
    val probeRead = walk(join.get.left).collectFirst {
      case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => r
    }
    assert(probeRead.exists(_.partitionSpecs.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.PartialReducerPartitionSpec])),
      "probe side has no mapper-range slices")
    // build side must NEVER be sliced — only replicated whole
    val buildRead = walk(join.get.right).collectFirst {
      case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => r
    }
    assert(buildRead.exists(_.partitionSpecs.forall(
      _.isInstanceOf[org.apache.spark.sql.execution.CoalescedPartitionSpec])),
      "build side was sliced — that scatters a key's build rows")
    // rows identical to the same join with the rule off
    val want = withSplit(on = false)(rows(PlanBridge.asofJoin(bigProbe,
      bigBuild, Seq("user_id" -> "b_key"), "us", "b_us", hint = "merge")))
    assert(got == want && got.size == 20000)
  }

  // Generic keys under the AQE runtime split of a hot probe partition:
  // the split ("salted") join must return the rows of the un-split one.
  private def genericSplitMatches(keys: Seq[(String, String)],
      band: Boolean): Unit = {
    val (gProbe, gBuild) = genericOn(aqe)
    def run(on: Boolean) = withSplit(on) {
      val df =
        if (band) PlanBridge.bandJoin(gProbe, gBuild, keys, "us", "b_us",
          -10L, 10L, hint = "merge")
        else PlanBridge.asofJoin(gProbe, gBuild, keys, "us", "b_us",
          hint = "merge")
      df.collect() // finalize THIS QueryExecution's adaptive plan
      (df, if (band) bandRows(df) else rows(df))
    }
    val (df, got) = run(on = true)
    assert(walk(df.queryExecution.executedPlan).exists {
      case j: AsofJoinExec => j.isSkewJoin
      case j: BandJoinExec => j.isSkewJoin
      case _ => false
    }, s"keys=$keys band=$band: skew rule never fired:\n" +
      df.queryExecution.executedPlan)
    val (_, want) = run(on = false)
    assert(got == want, s"keys=$keys band=$band diverged")
    if (!band) assert(got.size == 200)
  }

  test("generic keys: string + int two-column salted == unsalted, " +
      "as-of and band") {
    val keys = Seq("tenant" -> "b_tenant", "shard" -> "b_shard")
    genericSplitMatches(keys, band = false)
    genericSplitMatches(keys, band = true)
  }

  test("generic keys: single string key salted == unsalted") {
    genericSplitMatches(Seq("tenant" -> "b_tenant"), band = false)
  }

  test("AQE skew split reaches the KEYLESS composition's inner merge " +
      "for free (hot time bucket = hot probe partition)") {
    import aqe.implicits._
    // 60% of probe times land inside one bucket of the derived width
    // ((max−min)/(16×32) ≈ 1953 on this span): the keyless lowering's
    // inner keyed merge on bucket floors sees one hot partition, which
    // is exactly what the runtime split handles — no keyless-specific
    // code anywhere in the rule.
    val rnd = new scala.util.Random(23)
    val probes = (0 until 20000).map { i =>
      val t = if (i % 10 < 6) rnd.nextInt(50).toLong
        else rnd.nextInt(1000000).toLong
      (i.toLong, t)
    }.toDF("id", "t")
    val builds = (0 until 500).map(j => (j * 2000L + 3L, 5000L + j))
      .toDF("bt", "b_id")
    def run(on: Boolean) = withSplit(on) {
      val df = AsofKeyless.asofJoinKeyless(probes, builds, "t", "bt")
      df.collect() // drive THIS QueryExecution so its adaptive plan finalizes
      (df, df.select("id", "b_id").collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1).toSeq)
    }
    val (df, got) = run(on = true)
    val join = walk(df.queryExecution.executedPlan)
      .collectFirst { case j: AsofJoinExec => j }
    assert(join.exists(_.isSkewJoin),
      s"skew rule never reached the keyless inner merge:\n" +
        s"${df.queryExecution.executedPlan}")
    val (_, want) = run(on = false)
    assert(got == want && got.size == 20000)
    assert(got.exists(_._2.isDefined))
  }

  test("AQE skew split reverts under a colocated downstream aggregate " +
      "(exchange-free groupBy on the join key would see partial groups)") {
    // groupBy on the JOIN key: EnsureRequirements sees the join's
    // HashPartitioning(user_id) and inserts NO exchange before the final
    // aggregate. Splitting the hot probe partition would scatter one
    // user's rows across slices and the aggregate would emit partial
    // counts — the rule must detect the broken requirement
    // (ValidateRequirements) and revert to the unsplit plan.
    def agg(on: Boolean) = withSplit(on) {
      val df = PlanBridge.asofJoin(bigProbe, bigBuild,
          Seq("user_id" -> "b_key"), "us", "b_us", hint = "merge")
        .groupBy(col("user_id")).agg(count(col("b_id")).as("n"))
      (df, df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(_._1).toSeq)
    }
    val (df, got) = agg(on = true)
    val join = walk(df.queryExecution.executedPlan)
      .collectFirst { case j: AsofJoinExec => j }
    assert(join.isDefined, "join not found in executed plan")
    assert(!join.get.isSkewJoin,
      s"split NOT reverted under a colocated aggregate — one user's rows " +
        s"are scattered across slices:\n${df.queryExecution.executedPlan}")
    val (_, want) = agg(on = false)
    assert(got == want && got.nonEmpty)
  }

  test("AQE skew split: a hot BUILD partition gets its probe side " +
      "sliced (merge parallelized), build still never sliced, rows " +
      "identical to the un-split join") {
    import aqe.implicits._
    // build skew, uniform probes: key 1 holds 60% of 5000 BUILD rows
    // while every probe key carries the same ~2000 probes — the probe
    // byte distribution alone never trips the skew threshold, so any
    // split below is attributable to the build-side detection. Probe
    // partitions are LARGER than the hot build partition (the rule's
    // p_i >= b_i win condition), so the split must fire.
    val rnd = new scala.util.Random(29)
    val probes = (0 until 200000).map { i =>
      (i.toLong, (i % 97).toLong + 1L, rnd.nextInt(100000).toLong)
    }.toDF("event_id", "user_id", "us")
    val builds = (0 until 5000).map { j =>
      val key = if (j % 10 < 6) 1L else (j % 97).toLong + 1L
      (key, (j * 211 % 100000).toLong, 1000L + j)
    }.toDF("b_key", "b_us", "b_id")
    def run(on: Boolean) = withSplit(on) {
      val df = PlanBridge.asofJoin(probes, builds,
        Seq("user_id" -> "b_key"), "us", "b_us", hint = "merge")
      df.collect()
      (df, rows(df))
    }
    val (df, got) = run(on = true)
    val join = walk(df.queryExecution.executedPlan)
      .collectFirst { case j: AsofJoinExec => j }
    assert(join.exists(_.isSkewJoin),
      s"hot-build split never fired:\n${df.queryExecution.executedPlan}")
    val probeRead = walk(join.get.left).collectFirst {
      case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => r
    }
    assert(probeRead.exists(_.partitionSpecs.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.PartialReducerPartitionSpec])),
      "hot-build partition's probe side has no mapper-range slices")
    val buildRead = walk(join.get.right).collectFirst {
      case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => r
    }
    assert(buildRead.exists(_.partitionSpecs.forall(
      _.isInstanceOf[org.apache.spark.sql.execution.CoalescedPartitionSpec])),
      "build side was sliced — that scatters a key's build rows")
    val (_, want) = run(on = false)
    assert(got == want && got.size == 200000)
  }

  test("AQE skew split: a partition that is BOTH probe-skewed and " +
      "build-hot still splits (slice floor = build size), rows identical") {
    import aqe.implicits._
    // key 1 is hot on BOTH sides: 60% of 40000 probes AND 60% of 8000
    // build rows hash to its partition — the review-pass case where the
    // probe-skew branch used to ignore the build-size slice floor
    val rnd = new scala.util.Random(31)
    val probes = (0 until 40000).map { i =>
      val key = if (i % 10 < 6) 1L else (i % 97).toLong + 1L
      (i.toLong, key, rnd.nextInt(100000).toLong)
    }.toDF("event_id", "user_id", "us")
    val builds = (0 until 8000).map { j =>
      val key = if (j % 10 < 6) 1L else (j % 97).toLong + 1L
      (key, (j * 211 % 100000).toLong, 1000L + j)
    }.toDF("b_key", "b_us", "b_id")
    def run(on: Boolean) = withSplit(on) {
      val df = PlanBridge.asofJoin(probes, builds,
        Seq("user_id" -> "b_key"), "us", "b_us", hint = "merge")
      df.collect()
      (df, rows(df))
    }
    val (df, got) = run(on = true)
    val join = walk(df.queryExecution.executedPlan)
      .collectFirst { case j: AsofJoinExec => j }
    assert(join.exists(_.isSkewJoin),
      s"both-skewed split never fired:\n${df.queryExecution.executedPlan}")
    val buildRead = walk(join.get.right).collectFirst {
      case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => r
    }
    assert(buildRead.exists(_.partitionSpecs.forall(
      _.isInstanceOf[org.apache.spark.sql.execution.CoalescedPartitionSpec])),
      "build side was sliced — that scatters a key's build rows")
    val (_, want) = run(on = false)
    assert(got == want && got.size == 40000)
  }

  test("AQE skew split: band join, same contract") {
    def bandAgg(on: Boolean) = withSplit(on) {
      val df = PlanBridge.bandJoin(bigProbe, bigBuild,
        Seq("user_id" -> "b_key"), "us", "b_us", -5000L, 5000L, hint = "merge")
      df.collect() // finalize THIS QueryExecution's adaptive plan
      (df, df.groupBy(col("event_id")).agg(count(col("b_id")).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq)
    }
    val (df, got) = bandAgg(on = true)
    val join = walk(df.queryExecution.executedPlan)
      .collectFirst { case j: BandJoinExec => j }
    assert(join.exists(_.isSkewJoin),
      s"band skew rule never fired:\n${df.queryExecution.executedPlan}")
    val (_, want) = bandAgg(on = false)
    assert(got == want && got.size == 20000)
  }
}
