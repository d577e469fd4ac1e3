package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge

/** The as-of skew tier's contract: bounded hot-key detection, and
  * row-identical results to the plain join for both treatments — the
  * AQE runtime split of a hot probe partition (OptimizeSkewedGraftJoin)
  * and the build-skew routing (AsofSkew.buildSkewed) — under every
  * variant (direction × tolerance × null-key probes × keys with no
  * build rows × generic keys). */
class AsofSkewSpec extends SparkSpec {

  // adversarial little corpus: one hot key (70% of probes), a cold
  // key, a probe-only key, ties on (key, time), and pre-history probes
  private def corpusOn(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val probes = (0 until 200).map { i =>
      val key = if (i % 10 < 7) 1L else if (i % 10 < 9) 2L else 3L
      (i.toLong, key, rnd.nextInt(100).toLong)
    }
    val builds = (0 until 40).map { j =>
      val key = if (j % 4 < 3) 1L else 2L
      (1000L + j, key, (j * 7 % 100).toLong)
    }
    (probes.toDF("event_id", "user_id", "us"),
      builds.toDF("b_id", "b_key", "b_us"))
  }
  private lazy val (probe, build) = corpusOn(spark)

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

  test("detectHotKeys finds the dominant key and nothing else") {
    val hot = AsofSkew.detectHotKeyTuples(probe, Seq("user_id"),
      sampleFraction = 1.0, minShare = 0.25)
    assert(hot == Seq(Seq(1L)), s"got $hot")
    // empty probe side detects nothing
    assert(AsofSkew.detectHotKeyTuples(probe.limit(0), Seq("user_id"),
      sampleFraction = 1.0).isEmpty)
  }

  // ---- generic-key tier: string and multi-column keys --------------

  // the same adversarial corpus re-keyed: (tenant STRING, shard INT)
  // composite keys, with ("hot", 0) carrying 70% of probes
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
  private lazy val (sProbe, sBuild) = genericOn(spark)

  test("detectHotKeyTuples finds the dominant composite and is bounded") {
    val hot = AsofSkew.detectHotKeyTuples(sProbe, Seq("tenant", "shard"),
      sampleFraction = 1.0, minShare = 0.25)
    assert(hot == Seq(Seq("hot", 0)), s"got $hot")
    assert(AsofSkew.detectHotKeyTuples(sProbe.limit(0),
      Seq("tenant", "shard"), sampleFraction = 1.0).isEmpty)
  }

  test("a null key is never hot: 50% null build keys and no other hot " +
      "key detect nothing, and buildKeys=auto leaves the join unrouted") {
    import org.apache.spark.sql.graft.OptimizeSkewedGraftJoin
    import org.apache.spark.sql.catalyst.plans.logical.Union
    // 40 build rows: every other key null, the rest spread over ten
    // keys at 5% each — only the null tuple reaches minShare
    def nullBuildOn(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      (0 until 40).map { j =>
        (1000L + j, if (j % 2 == 0) None else Some((j % 20) / 2 + 1L),
          (j * 7 % 100).toLong)
      }.toDF("b_id", "b_key", "b_us")
    }
    assert(AsofSkew.detectHotKeyTuples(nullBuildOn(spark), Seq("b_key"),
      sampleFraction = 1.0, minShare = 0.25).isEmpty)
    val autoS = spark.newSession()
    autoS.conf.set(OptimizeSkewedGraftJoin.BuildKeysConfKey, "auto")
    autoS.conf.set(OptimizeSkewedGraftJoin.BuildKeysSampleFractionKey, "1.0")
    autoS.conf.set(OptimizeSkewedGraftJoin.BuildKeysMinShareKey, "0.25")
    val keys = Seq("user_id" -> "b_key")
    val routed = PlanBridge.asofJoin(corpusOn(autoS)._1, nullBuildOn(autoS),
      keys, "us", "b_us")
    assert(routed.queryExecution.analyzed.collectFirst {
      case u: Union => u }.isEmpty,
      "a null build key was routed through the build-skew composition")
    val stock = rows(PlanBridge.asofJoin(probe, nullBuildOn(spark),
      keys, "us", "b_us"))
    assert(rows(routed) == stock && stock.exists(_._2.isDefined))
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
    aqe.conf.set(org.apache.spark.sql.graft.OptimizeSkewedGraftJoin.ConfKey, "false")
    val want = try rows(PlanBridge.asofJoin(bigProbe, bigBuild,
        Seq("user_id" -> "b_key"), "us", "b_us", hint = "merge"))
      finally aqe.conf.set(
        org.apache.spark.sql.graft.OptimizeSkewedGraftJoin.ConfKey, "true")
    assert(got == want && got.size == 20000)
  }

  // Generic keys under the AQE runtime split of a hot probe partition:
  // the split ("salted") join must return the rows of the un-split one.
  private def genericSplitMatches(keys: Seq[(String, String)],
      band: Boolean): Unit = {
    import org.apache.spark.sql.graft.OptimizeSkewedGraftJoin
    val (gProbe, gBuild) = genericOn(aqe)
    def run(on: Boolean) = {
      aqe.conf.set(OptimizeSkewedGraftJoin.ConfKey, on.toString)
      try {
        val df =
          if (band) PlanBridge.bandJoin(gProbe, gBuild, keys, "us", "b_us",
            -10L, 10L, hint = "merge")
          else PlanBridge.asofJoin(gProbe, gBuild, keys, "us", "b_us",
            hint = "merge")
        df.collect() // finalize THIS QueryExecution's adaptive plan
        (df, if (band) bandRows(df) else rows(df))
      } finally aqe.conf.set(OptimizeSkewedGraftJoin.ConfKey, "true")
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
    def run(on: Boolean) = {
      aqe.conf.set(
        org.apache.spark.sql.graft.OptimizeSkewedGraftJoin.ConfKey, on.toString)
      try {
        val df = AsofKeyless.asofJoinKeyless(probes, builds, "t", "bt")
        df.collect() // drive THIS QueryExecution so its adaptive plan finalizes
        (df, df.select("id", "b_id").collect()
          .map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1).toSeq)
      } finally aqe.conf.set(
        org.apache.spark.sql.graft.OptimizeSkewedGraftJoin.ConfKey, "true")
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
    def agg(on: Boolean) = {
      aqe.conf.set(
        org.apache.spark.sql.graft.OptimizeSkewedGraftJoin.ConfKey, on.toString)
      try {
        val df = PlanBridge.asofJoin(bigProbe, bigBuild,
            Seq("user_id" -> "b_key"), "us", "b_us", hint = "merge")
          .groupBy(col("user_id")).agg(count(col("b_id")).as("n"))
        (df, df.collect().map(r => (r.getLong(0), r.getLong(1)))
          .sortBy(_._1).toSeq)
      } finally aqe.conf.set(
        org.apache.spark.sql.graft.OptimizeSkewedGraftJoin.ConfKey, "true")
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
    def run(on: Boolean) = {
      aqe.conf.set(
        org.apache.spark.sql.graft.OptimizeSkewedGraftJoin.ConfKey, on.toString)
      try {
        val df = PlanBridge.asofJoin(probes, builds,
          Seq("user_id" -> "b_key"), "us", "b_us", hint = "merge")
        df.collect()
        (df, rows(df))
      } finally aqe.conf.set(
        org.apache.spark.sql.graft.OptimizeSkewedGraftJoin.ConfKey, "true")
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

  test("build-skewed manual API: keyless-bucketed hot build keys == " +
      "plain join, as-of (direction × tolerance) and band") {
    // the shared little corpus already has a hot BUILD key: key 1
    // holds 75% of the 40 build rows (and 70% of probes — irrelevant
    // here, the routing keys off the build side)
    for (dir <- Seq("backward", "forward"); tol <- Seq(-1L, 10L)) {
      val plain = rows(PlanBridge.asofJoin(probe, build,
        Seq("user_id" -> "b_key"), "us", "b_us", "merge", dir, tol))
      val bucketed = rows(AsofSkew.buildSkewed(probe, build,
        TimeJoin(Seq("user_id" -> "b_key"), "us", "b_us", Asof(dir, tol),
          hint = "merge"),
        hotKeys = Seq(Seq(1L))))
      assert(bucketed == plain, s"dir=$dir tol=$tol diverged")
      assert(plain.size == 200)
    }
    for ((lo, hi) <- Seq((-10L, 0L), (-25L, 25L), (0L, 15L))) {
      val plain = bandRows(PlanBridge.bandJoin(probe, build,
        Seq("user_id" -> "b_key"), "us", "b_us", lo, hi, hint = "merge"))
      val bucketed = bandRows(AsofSkew.buildSkewed(probe, build,
        TimeJoin(Seq("user_id" -> "b_key"), "us", "b_us", Band(lo, hi),
          hint = "merge"),
        hotKeys = Seq(Seq(1L))))
      assert(bucketed == plain, s"band [$lo,$hi] diverged")
    }
    // multiple hot keys over generic composite keys
    val keys = Seq("tenant" -> "b_tenant", "shard" -> "b_shard")
    val plainG = rows(PlanBridge.asofJoin(sProbe, sBuild, keys, "us", "b_us"))
    val bucketedG = rows(AsofSkew.buildSkewed(sProbe, sBuild,
      TimeJoin(keys, "us", "b_us", Asof(), hint = "merge"),
      hotKeys = Seq(Seq("hot", 0), Seq("cold", 1))))
    assert(bucketedG == plainG)
  }

  test("multiple hot keys and the broadcast hint also match") {
    // the hint steers the keyless hot branches too
    val plain = rows(PlanBridge.asofJoin(probe, build,
      Seq("user_id" -> "b_key"), "us", "b_us"))
    val routed = rows(AsofSkew.buildSkewed(probe, build,
      TimeJoin(Seq("user_id" -> "b_key"), "us", "b_us", Asof(),
        hint = "broadcast"),
      hotKeys = Seq(Seq(1L), Seq(2L))))
    assert(routed == plain && plain.size == 200)
  }

  test("empty hot-key list degrades to the plain join") {
    val keys = Seq("user_id" -> "b_key")
    val asof = rows(AsofSkew.buildSkewed(probe, build,
      TimeJoin(keys, "us", "b_us", Asof(), hint = "merge"), hotKeys = Seq.empty))
    assert(asof == rows(PlanBridge.asofJoin(probe, build, keys, "us", "b_us")))
  }

  test("band salted: empty hot-key list degrades to the plain join") {
    val keys = Seq("user_id" -> "b_key")
    val band = bandRows(AsofSkew.buildSkewed(probe, build,
      TimeJoin(keys, "us", "b_us", Band(-10L, 0L), hint = "merge"),
      hotKeys = Seq.empty))
    assert(band == bandRows(PlanBridge.bandJoin(probe, build, keys,
      "us", "b_us", -10L, 0L)))
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
    def run(on: Boolean) = {
      aqe.conf.set(
        org.apache.spark.sql.graft.OptimizeSkewedGraftJoin.ConfKey, on.toString)
      try {
        val df = PlanBridge.asofJoin(probes, builds,
          Seq("user_id" -> "b_key"), "us", "b_us", hint = "merge")
        df.collect()
        (df, rows(df))
      } finally aqe.conf.set(
        org.apache.spark.sql.graft.OptimizeSkewedGraftJoin.ConfKey, "true")
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

  test("buildKeys=auto: the STOCK call detects hot BUILD keys and routes " +
      "through the bucketed composition — rows identical; flag-off plan " +
      "shape unchanged") {
    import org.apache.spark.sql.graft.OptimizeSkewedGraftJoin
    import org.apache.spark.sql.catalyst.plans.logical.Union
    // per-session SQLConf isolates the flag from every other suite
    val autoS = spark.newSession()
    autoS.conf.set(OptimizeSkewedGraftJoin.BuildKeysConfKey, "auto")
    // the shared 40-row build side is far too small for the default 1%
    // detection sample — the dials exist exactly for this
    autoS.conf.set(OptimizeSkewedGraftJoin.BuildKeysSampleFractionKey, "1.0")
    autoS.conf.set(OptimizeSkewedGraftJoin.BuildKeysMinShareKey, "0.5")
    val (p2, b2) = corpusOn(autoS)
    val keys = Seq("user_id" -> "b_key")
    // build key 1 holds 75% of build rows >= 0.5 — must route (the
    // routed composition is cold UNION hot branches; the stock plan
    // has no Union anywhere)
    val routed = PlanBridge.asofJoin(p2, b2, keys, "us", "b_us")
    assert(routed.queryExecution.analyzed.collectFirst {
      case u: Union => u }.isDefined,
      "auto flag never routed through the build-skew composition")
    assert(rows(routed) == rows(PlanBridge.asofJoin(probe, build,
      keys, "us", "b_us")), "auto-routed rows diverged from stock")
    val routedBand = PlanBridge.bandJoin(p2, b2, keys, "us", "b_us", -10L, 0L)
    assert(routedBand.queryExecution.analyzed.collectFirst {
      case u: Union => u }.isDefined,
      "auto flag never routed the band join")
    assert(bandRows(routedBand) == bandRows(PlanBridge.bandJoin(probe, build,
      keys, "us", "b_us", -10L, 0L)), "auto-routed band rows diverged")
    // flag-off (the base session): stock single-node plan, no Union
    val stock = PlanBridge.asofJoin(probe, build, keys, "us", "b_us")
    assert(stock.queryExecution.analyzed.collectFirst {
      case u: Union => u }.isEmpty,
      "flag-off plan shape changed — auto routing leaked")
  }

  test("buildKeys=auto covers the STREAM-static probe quadrant " +
      "(round-16): detection samples only the static build side, the " +
      "routed composition stays streaming-legal, and the streamed rows " +
      "equal the stock batch join") {
    import org.apache.spark.sql.graft.OptimizeSkewedGraftJoin
    import org.apache.spark.sql.catalyst.plans.logical.Union
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val autoS = spark.newSession()
    autoS.conf.set(OptimizeSkewedGraftJoin.BuildKeysConfKey, "auto")
    autoS.conf.set(OptimizeSkewedGraftJoin.BuildKeysSampleFractionKey, "1.0")
    autoS.conf.set(OptimizeSkewedGraftJoin.BuildKeysMinShareKey, "0.5")
    val (pStatic, b2) = corpusOn(autoS)
    implicit val sq: org.apache.spark.sql.SQLContext = autoS.sqlContext
    import autoS.implicits._
    val in = MemoryStream[(Long, Long, Long)]
    val probeS = in.toDF().toDF("event_id", "user_id", "us")
    val keys = Seq("user_id" -> "b_key")
    val routed = PlanBridge.asofJoin(probeS, b2, keys, "us", "b_us")
    assert(routed.isStreaming, "routing lost streaming-ness")
    assert(routed.queryExecution.analyzed.collectFirst {
      case u: Union => u }.isDefined,
      "auto flag never routed the streaming probe")
    val q = routed.writeStream.format("memory").queryName("skewautostream")
      .outputMode("append").start()
    try {
      in.addData(pStatic.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toIndexedSeq: _*)
      q.processAllAvailable()
      val streamed = rows(autoS.table("skewautostream"))
      val stock = rows(PlanBridge.asofJoin(probe, build, keys, "us", "b_us"))
      assert(streamed == stock && stock.nonEmpty,
        s"streamed auto-routed rows (${streamed.size}) diverged from " +
          s"stock batch (${stock.size})")
    } finally q.stop()
  }

  test("AQE skew split: band join, same contract") {
    def bandAgg(on: Boolean) = {
      aqe.conf.set(
        org.apache.spark.sql.graft.OptimizeSkewedGraftJoin.ConfKey, on.toString)
      try {
        val df = PlanBridge.bandJoin(bigProbe, bigBuild,
          Seq("user_id" -> "b_key"), "us", "b_us", -5000L, 5000L, hint = "merge")
        df.collect() // finalize THIS QueryExecution's adaptive plan
        (df, df.groupBy(col("event_id")).agg(count(col("b_id")).as("n"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq)
      } finally aqe.conf.set(
        org.apache.spark.sql.graft.OptimizeSkewedGraftJoin.ConfKey, "true")
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
