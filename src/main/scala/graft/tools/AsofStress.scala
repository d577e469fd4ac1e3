package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge

/** Closed-form stress gate for the native as-of operator (AsofJoinExec)
  * — the Gram/Sketch/Graph/LshStress pattern applied to ev08b's merge.
  *
  * Synthetic event stream, generated map-side from spark.range at
  * ~600x sf0.1's event count (default U=200k users x K=150):
  *   - views:     (user u, time 10k,     id u*K + k)  for k < K
  *   - purchases: (user u, time 10k + 5)              for k < K
  *   - plus one probe per user at time -5: BEFORE every view.
  * Every regular purchase's as-of match is EXACTLY the same-k view —
  * matched_us = us - 5 and matched_id = u*K + (us-5)/10 row-for-row —
  * and the early probe must surface a null. All gates evaluate
  * DISTRIBUTED (mismatch counts), nothing corpus-sized is collected.
  *
  * Also times the ev08-style union+last-window form on the same data
  * and cross-checks its null census, so the native operator's win is
  * measured, not asserted. Prints one JSON line. Run:
  * tools/run.sh graft.tools.AsofStress [users] [viewsPerUser]
  * Results in docs/ROUND10.md.
  */
object AsofStress {
  def main(args: Array[String]): Unit = {
    val users = args.headOption.map(_.toLong).getOrElse(200000L)
    val k = args.drop(1).headOption.map(_.toLong).getOrElse(150L)
    // the session's extensions carry the AQE skew-split rule
    // (OptimizeSkewedGraftJoin) the skew scenario measures. local[32]
    // skew tuning: the hot partition (~20% of 60M rows) must read as
    // skewed against the ~2.5%-of-rows median (factor 5 catches it) and
    // split to ~advisory-sized slices
    val spark = graft.GraftSession(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m")
    // the residual-form baselines below must stay STOCK joins even if
    // this JVM's session carries the graft extensions — the whole
    // point is measuring the operator against what Spark does without it
    spark.conf.set(graft.plans.BandJoinAutoRewrite.ConfKey, "false")
    // same isolation for the AQE skew split: baselines measure the raw
    // operator; the skew scenario flips this on for its AQE leg only
    spark.conf.set(org.apache.spark.sql.graft.OptimizeSkewedGraftJoin.ConfKey, "false")

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // map-side generators: one range each, no shuffle before the join
    val views = spark.range(users * k).select(
      (col("id") / k).cast("long").as("v_user_id"),
      (col("id") % k * 10).as("v_us"),
      col("id").as("v_event_id"))
    val purchases = spark.range(users * (k + 1)).select(
      (col("id") / (k + 1)).cast("long").as("user_id"),
      when(col("id") % (k + 1) === k, lit(-5L))
        .otherwise(col("id") % (k + 1) * 10 + 5).as("us"),
      col("id").as("event_id"))

    def runNative() = timed {
      val out = PlanBridge.asofJoin(purchases, views,
          Seq("user_id" -> "v_user_id"), "us", "v_us")
        .agg(count(lit(1)).as("rows"),
          sum(when(col("v_us").isNull, 1L).otherwise(0L)).as("nulls"),
          sum(when(col("us") =!= -5L &&
            (col("v_us") =!= col("us") - 5 ||
             col("v_event_id") =!= col("user_id") * k + (col("us") - 5) / 10),
            1L).otherwise(0L)).as("bad"),
          sum(when(col("us") === -5L && col("v_us").isNotNull, 1L)
            .otherwise(0L)).as("early_matched"))
        .collect()(0)
      (out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3))
    }
    // two reps each, min reported: rep 1 pays JIT + codegen warmup
    val rep1 = runNative(); val rep2 = runNative()
    val (native, tNative) = (rep2._1, math.min(rep1._2, rep2._2))
    val (rows, nulls, bad, earlyMatched) = native
    assert(rows == users * (k + 1), s"rows $rows != ${users * (k + 1)}")
    assert(nulls == users, s"nulls $nulls != $users")
    assert(bad == 0, s"$bad wrong matches")
    assert(earlyMatched == 0, s"$earlyMatched early probes matched")

    // the union+window form (ev08's shape) on identical data
    def runWindow() = timed {
      val tagged = views
        .select(col("v_user_id").as("user_id"), col("v_us").as("us"),
          lit(0).as("side"),
          struct(col("v_us").as("m_us"), col("v_event_id").as("m_id")).as("v"))
        .unionByName(purchases
          .select(col("user_id"), col("us"), lit(1).as("side"),
            lit(null).cast("struct<m_us:bigint,m_id:bigint>").as("v")))
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("side"))
        .rowsBetween(Window.unboundedPreceding, 0)
      tagged.withColumn("last_v", last(col("v"), ignoreNulls = true).over(w))
        .filter(col("side") === 1)
        .agg(sum(when(col("last_v").isNull, 1L).otherwise(0L)))
        .collect()(0).getLong(0)
    }
    val w1 = runWindow(); val w2 = runWindow()
    val (windowNulls, tWindow) = (w2._1, math.min(w1._2, w2._2))
    assert(windowNulls == users, s"window form nulls $windowNulls != $users")

    // ---- small-dimension scenario: where the broadcast variant lives ----
    // 1000 keys x 100 dimension rows (times 0,100..9900) probed by the
    // same 60M-row stream (key = id % 1000, t = id % 10000): every
    // probe's match is exactly (k*100 + t/100) — closed form, verified
    // distributed. Broadcast never shuffles the probe; merge pays a
    // full probe exchange + sort for a 100k-row build side.
    val dimKeys = 1000L
    val dim = spark.range(dimKeys * 100).select(
      (col("id") / 100).cast("long").as("d_key"),
      (col("id") % 100 * 100).as("d_us"),
      col("id").as("d_id"))
    val probes = spark.range(users * (2 * k + 1)).select(
      (col("id") % dimKeys).as("p_key"),
      (col("id") % 10000).as("p_us"),
      col("id").as("p_id"))
    def dimGates(hint: String) = timed {
      val out = PlanBridge.asofJoin(probes, dim,
          Seq("p_key" -> "d_key"), "p_us", "d_us", hint)
        .agg(count(lit(1)).as("rows"),
          sum(when(col("d_id") =!=
            col("p_key") * 100 + (col("p_us") / 100).cast("long"), 1L)
            .otherwise(0L)).as("bad"),
          sum(when(col("d_us").isNull, 1L).otherwise(0L)).as("nulls"))
        .collect()(0)
      (out.getLong(0), out.getLong(1), out.getLong(2))
    }
    val b1 = dimGates("broadcast"); val b2 = dimGates("broadcast")
    val m1 = dimGates("merge"); val m2 = dimGates("merge")
    val (bRows, bBad, bNulls) = b2._1
    assert(bRows == users * (2 * k + 1) && bBad == 0 && bNulls == 0,
      s"broadcast dim gates: rows $bRows bad $bBad nulls $bNulls")
    assert(m2._1 == b2._1, "merge and broadcast disagree on the dim scenario")
    val tB = math.min(b1._2, b2._2)
    val tM = math.min(m1._2, m2._2)

    // forward direction on the same dim scenario, closed form: match =
    // smallest d_us >= t, i.e. d_id = k*100 + ceil(t/100); null iff
    // t > 9900 (no dim row at 10000). Gates fully distributed.
    val fRow = PlanBridge.asofJoin(probes, dim,
        Seq("p_key" -> "d_key"), "p_us", "d_us", "broadcast", "forward")
      .agg(
        sum(when(col("d_us").isNull && col("p_us") <= 9900, 1L)
          .otherwise(0L)).as("missed"),
        sum(when(col("d_us").isNotNull && col("p_us") > 9900, 1L)
          .otherwise(0L)).as("phantom"),
        sum(when(col("d_us").isNotNull && col("d_id") =!=
          expr("p_key * 100 + (p_us + 99) div 100"), 1L)
          .otherwise(0L)).as("bad"))
      .collect()(0)
    assert(fRow.getLong(0) == 0 && fRow.getLong(1) == 0 && fRow.getLong(2) == 0,
      s"forward gates: missed ${fRow.getLong(0)} phantom ${fRow.getLong(1)} " +
        s"bad ${fRow.getLong(2)}")

    // ---- skew scenario: one key holds 20% of the 60M probes ----
    // Same dim build side and the same key-independent closed form
    // (match = p_key*100 + p_us div 100), but every 5th probe lands on
    // key 7 — the unsalted merge sorts ~20% of the stream in ONE
    // partition while AsofSkew's exact salting (detect → salt probes
    // by time hash → replicate the hot key's 100 build rows) spreads
    // it across the cluster. Gates identical for both paths: the
    // rewrite must change the layout, never a match.
    val hotKey = 7L
    val skewProbes = spark.range(users * (2 * k + 1)).select(
      when(col("id") % 5 === 0, lit(hotKey))
        .otherwise(col("id") % dimKeys).as("p_key"),
      (col("id") % 10000).as("p_us"),
      col("id").as("p_id"))
    val detected = graft.plans.AsofSkew.detectHotKeyTuples(
      skewProbes, Seq("p_key"), sampleFraction = 0.001, minShare = 0.05)
    assert(detected == Seq(Seq(hotKey)),
      s"hot-key detection found $detected, expected Seq($hotKey)")
    def skewGates(join: => org.apache.spark.sql.DataFrame) = timed {
      val out = join
        .agg(count(lit(1)).as("rows"),
          sum(when(col("d_id") =!=
            col("p_key") * 100 + (col("p_us") / 100).cast("long"), 1L)
            .otherwise(0L)).as("bad"),
          sum(when(col("d_us").isNull, 1L).otherwise(0L)).as("nulls"))
        .collect()(0)
      (out.getLong(0), out.getLong(1), out.getLong(2))
    }
    def unsaltedJoin = PlanBridge.asofJoin(skewProbes, dim,
      Seq("p_key" -> "d_key"), "p_us", "d_us", "merge")
    def saltedJoin = graft.plans.AsofSkew.salted(skewProbes, dim,
      graft.plans.TimeJoin(Seq("p_key" -> "d_key"), "p_us", "d_us",
        graft.plans.Asof(), hint = "merge"),
      detected, salts = graft.GraftSession.cpus)
    val u1 = skewGates(unsaltedJoin); val u2 = skewGates(unsaltedJoin)
    val s1 = skewGates(saltedJoin); val s2 = skewGates(saltedJoin)
    assert(u2._1 == s2._1, s"skew gates diverge: ${u2._1} vs ${s2._1}")
    val (skRows, skBad, skNulls) = s2._1
    assert(skRows == users * (2 * k + 1) && skBad == 0 && skNulls == 0,
      s"skew gates: rows $skRows bad $skBad nulls $skNulls")
    val tU = math.min(u1._2, u2._2)
    val tS = math.min(s1._2, s2._2)

    // the SAME stock call with the AQE skew split on: zero user action,
    // the runtime rule slices the hot probe partition by mapper ranges
    // (OptimizeSkewedGraftJoin) — must match the unsalted gates exactly
    // and land at salted-level time
    spark.conf.set(org.apache.spark.sql.graft.OptimizeSkewedGraftJoin.ConfKey, "true")
    val a1 = skewGates(unsaltedJoin); val a2 = skewGates(unsaltedJoin)
    spark.conf.set(org.apache.spark.sql.graft.OptimizeSkewedGraftJoin.ConfKey, "false")
    assert(a2._1 == u2._1, s"AQE skew gates diverge: ${a2._1} vs ${u2._1}")
    val tA = math.min(a1._2, a2._2)

    // ---- hot-BUILD scenario: 20%+ of the BUILD rows on one key ----
    // The opposite skew quadrant: probes uniform (12M over 1000 keys),
    // build 30M rows of which key 7 holds 6M — the stock merge sorts
    // the 6M-row build history in ONE partition. Probe salting can't
    // help (it would replicate those 6M rows per salt) and the AQE
    // probe-slice can't either (each slice would re-sort the full hot
    // build partition: b_i >> p_i, the rule's warn-and-leave case), so
    // the fix measured here is the manual keyless-bucketed routing
    // (AsofSkew.buildSkewed) against a BALANCED control of the
    // same total size. Closed form: balanced build = 1000 keys × 24000
    // rows at times 0..23999 (b_id = key*24000 + t); the hot variant
    // ADDS 6M rows on key 7 at times 24000.. — unreachable by any
    // probe (t ≤ 9999), so all three runs must produce IDENTICAL
    // matches: d_id = p_key*24000 + p_us, no nulls, gated distributed.
    val hbProbes = spark.range(users * (2 * k + 1) / 5).select(
      (col("id") % dimKeys).as("p_key"),
      (col("id") % 10000).as("p_us"),
      col("id").as("p_id"))
    val balancedBuild = spark.range(dimKeys * 24000).select(
      (col("id") / 24000).cast("long").as("d_key"),
      (col("id") % 24000).as("d_us"),
      col("id").as("d_id"))
    val hotBuild = balancedBuild.unionAll(
      spark.range(6000000L).select(
        lit(hotKey).as("d_key"),
        (col("id") + 24000L).as("d_us"),
        (col("id") + dimKeys * 24000L).as("d_id")))
    def hotBuildGates(join: => org.apache.spark.sql.DataFrame) = timed {
      val out = join
        .agg(count(lit(1)).as("rows"),
          sum(when(col("d_id").isNull ||
            col("d_id") =!= col("p_key") * 24000 + col("p_us"), 1L)
            .otherwise(0L)).as("bad"))
        .collect()(0)
      (out.getLong(0), out.getLong(1))
    }
    val nHb = users * (2 * k + 1) / 5
    def hbJoin(build: org.apache.spark.sql.DataFrame) =
      PlanBridge.asofJoin(hbProbes, build,
        Seq("p_key" -> "d_key"), "p_us", "d_us", "merge")
    val hbDetected = graft.plans.AsofSkew.detectHotKeyTuples(
      hotBuild, Seq("d_key"), sampleFraction = 0.001, minShare = 0.1)
    assert(hbDetected == Seq(Seq(hotKey)),
      s"hot BUILD key detection found $hbDetected, expected Seq($hotKey)")
    def hbBucketed = graft.plans.AsofSkew.buildSkewed(hbProbes, hotBuild,
      graft.plans.TimeJoin(Seq("p_key" -> "d_key"), "p_us", "d_us",
        graft.plans.Asof(), hint = "merge"),
      hotKeys = hbDetected)
    val hbBal1 = hotBuildGates(hbJoin(balancedBuild))
    val hbBal2 = hotBuildGates(hbJoin(balancedBuild))
    val hbStock1 = hotBuildGates(hbJoin(hotBuild))
    val hbStock2 = hotBuildGates(hbJoin(hotBuild))
    val hbFix1 = hotBuildGates(hbBucketed)
    val hbFix2 = hotBuildGates(hbBucketed)
    assert(hbBal2._1 == (nHb, 0L), s"hot-build balanced gates: ${hbBal2._1}")
    assert(hbStock2._1 == hbBal2._1,
      s"hot-build stock gates diverge: ${hbStock2._1} vs ${hbBal2._1}")
    assert(hbFix2._1 == hbBal2._1,
      s"hot-build bucketed gates diverge: ${hbFix2._1} vs ${hbBal2._1}")
    val tHbBalanced = math.min(hbBal1._2, hbBal2._2)
    val tHbStock = math.min(hbStock1._2, hbStock2._2)
    val tHbBucketed = math.min(hbFix1._2, hbFix2._2)

    // ---- auto hot-BUILD routing (round 15): the SAME stock call with
    // spark.graft.skewJoin.buildKeys=auto must detect and route with
    // zero user action — gates identical, wall within 2x of the
    // manually-routed run (the routed plan is identical; the delta is
    // the bounded two-job detection pre-pass at plan-build time).
    import org.apache.spark.sql.graft.OptimizeSkewedGraftJoin
    spark.conf.set(OptimizeSkewedGraftJoin.BuildKeysConfKey, "auto")
    spark.conf.set(OptimizeSkewedGraftJoin.BuildKeysSampleFractionKey, "0.001")
    spark.conf.set(OptimizeSkewedGraftJoin.BuildKeysMinShareKey, "0.1")
    val (hbAuto1, hbAuto2) =
      try (hotBuildGates(hbJoin(hotBuild)), hotBuildGates(hbJoin(hotBuild)))
      finally {
        spark.conf.unset(OptimizeSkewedGraftJoin.BuildKeysConfKey)
        spark.conf.unset(OptimizeSkewedGraftJoin.BuildKeysSampleFractionKey)
        spark.conf.unset(OptimizeSkewedGraftJoin.BuildKeysMinShareKey)
      }
    assert(hbAuto2._1 == hbBal2._1,
      s"auto-routed gates diverge: ${hbAuto2._1} vs ${hbBal2._1}")
    val tHbAuto = math.min(hbAuto1._2, hbAuto2._2)
    assert(tHbAuto <= 2.0 * tHbBucketed + 5.0,
      f"auto routing $tHbAuto%.1f s not within 2x of manual " +
        f"$tHbBucketed%.1f s")

    // ---- band scenario: BandJoinExec vs the equi-join + residual ----
    // Same dim side, band [-199, 0]: every probe matches the multiples
    // of 100 inside [max(0, t-199), t] — count = t div 100 -
    // (max(0, t-199) + 99) div 100 + 1, a closed form gated per probe
    // DISTRIBUTED (regroup on p_id, compare, sum mismatches). The
    // residual form materializes every probe × its key's 100 dim rows
    // before filtering (quadratic in key volume), so it runs at 1/10
    // the probes; the native merge is O(input + output) and runs at
    // the full 60M too.
    val bandExpected =
      expr("p_us div 100 - (greatest(p_us - 199, 0) + 99) div 100 + 1")
    def bandProbes(n: Long) = spark.range(n).select(
      (col("id") % dimKeys).as("p_key"),
      (col("id") % 10000).as("p_us"),
      col("id").as("p_id"))
    def bandGate(joined: => org.apache.spark.sql.DataFrame) = timed {
      val out = joined
        .groupBy(col("p_id"), col("p_us"))
        .agg(count(col("d_id")).as("n"))
        .agg(count(lit(1)).as("probes"),
          sum(when(col("n") =!= bandExpected, 1L).otherwise(0L)).as("bad"))
        .collect()(0)
      (out.getLong(0), out.getLong(1))
    }
    val nFull = users * (2 * k + 1)
    val nTenth = nFull / 10
    def nativeBand(n: Long) = PlanBridge.bandJoin(bandProbes(n), dim,
      Seq("p_key" -> "d_key"), "p_us", "d_us", -199L, 0L)
    def residualBand(n: Long) = bandProbes(n).join(dim,
      col("p_key") === col("d_key") && col("d_us") <= col("p_us") &&
        col("d_us") >= col("p_us") - 199, "left_outer")
    val nb1 = bandGate(nativeBand(nFull)); val nb2 = bandGate(nativeBand(nFull))
    assert(nb2._1 == (nFull, 0L),
      s"native band gates: probes ${nb2._1._1} bad ${nb2._1._2}")
    val nt1 = bandGate(nativeBand(nTenth)); val nt2 = bandGate(nativeBand(nTenth))
    val rb1 = bandGate(residualBand(nTenth)); val rb2 = bandGate(residualBand(nTenth))
    assert(rb2._1 == nt2._1 && rb2._1 == (nTenth, 0L),
      s"band parity: native ${nt2._1} residual ${rb2._1}")
    val tBandFull = math.min(nb1._2, nb2._2)
    val tBandTenth = math.min(nt1._2, nt2._2)
    val tResTenth = math.min(rb1._2, rb2._2)

    // ---- dense-build band scenario: where the product actually ----
    // ---- explodes. 100 keys × 10,000 build rows each; band [-19, 0]
    // (f = least(t,19)+1 matches). The residual form materializes
    // 10,000 candidates per probe before filtering — 6e9 rows at a
    // mere 600k probes — while the band merge's work stays
    // output-sized (~20 rows per probe). THIS is the regime the
    // native operator exists for; the small-build scenario above is
    // honestly the broadcast residual's (it never shuffles probes).
    val denseKeys = 100L
    val dim2 = spark.range(denseKeys * 10000).select(
      (col("id") / 10000).cast("long").as("e_key"),
      (col("id") % 10000).as("e_us"),
      col("id").as("e_id"))
    val bandExpected2 = expr("least(p_us, 19) + 1")
    def bandProbes2(n: Long) = spark.range(n).select(
      (col("id") % denseKeys).as("p_key"),
      (col("id") % 10000).as("p_us"),
      col("id").as("p_id"))
    def bandGate2(joined: => org.apache.spark.sql.DataFrame) = timed {
      val out = joined
        .groupBy(col("p_id"), col("p_us"))
        .agg(count(col("e_id")).as("n"))
        .agg(count(lit(1)).as("probes"),
          sum(when(col("n") =!= bandExpected2, 1L).otherwise(0L)).as("bad"))
        .collect()(0)
      (out.getLong(0), out.getLong(1))
    }
    val nDense = 600000L
    def nativeDense(n: Long) = PlanBridge.bandJoin(bandProbes2(n), dim2,
      Seq("p_key" -> "e_key"), "p_us", "e_us", -19L, 0L)
    def residualDense(n: Long) = bandProbes2(n).join(dim2,
      col("p_key") === col("e_key") && col("e_us") <= col("p_us") &&
        col("e_us") >= col("p_us") - 19, "left_outer")
    val dn1 = bandGate2(nativeDense(nDense)); val dn2 = bandGate2(nativeDense(nDense))
    val dr1 = bandGate2(residualDense(nDense)); val dr2 = bandGate2(residualDense(nDense))
    assert(dn2._1 == (nDense, 0L) && dr2._1 == dn2._1,
      s"dense band gates: native ${dn2._1} residual ${dr2._1}")
    // and the native path at 10x the probes, same closed-form gate
    val dx1 = bandGate2(nativeDense(nDense * 10))
    val dx2 = bandGate2(nativeDense(nDense * 10))
    assert(dx2._1 == (nDense * 10, 0L),
      s"dense band native 6m gates: ${dx2._1}")
    val tDenseNative = math.min(dn1._2, dn2._2)
    val tDenseResidual = math.min(dr1._2, dr2._2)
    val tDenseNative10x = math.min(dx1._2, dx2._2)

    // ---- the auto-rewrite end-to-end: the IDENTICAL stock join ----
    // (residualDense's code, untouched) with BandJoinAutoRewrite
    // enabled must plan onto the band operator and run in the native
    // class — the proof that plain-SQL/DataFrame users actually
    // receive the operator at scale, not just in unit tests. Gates
    // stay the closed-form per-probe counts.
    PlanBridge.ensureBandRewrite(spark)
    spark.conf.set(graft.plans.BandJoinAutoRewrite.ConfKey, "true")
    assert(residualDense(nDense).queryExecution.executedPlan.toString
        .contains("BandJoin"),
      "auto-rewrite did not claim the stock dense band join")
    val rw1 = bandGate2(residualDense(nDense))
    val rw2 = bandGate2(residualDense(nDense))
    assert(rw2._1 == (nDense, 0L), s"auto-rewrite gates: ${rw2._1}")
    spark.conf.set(graft.plans.BandJoinAutoRewrite.ConfKey, "false")
    val tRewrite = math.min(rw1._2, rw2._2)

    // ---- KEYLESS band scenario: global time-window correlation ----
    // No equi-key anywhere: 1,000 build rows at times 0,10..9990
    // probed by 6M rows (t = id % 10000), band [-19, 0] — matches =
    // the multiples of 10 in [max(t-19,0), t], count = t div 10 −
    // (max(t−19,0)+9) div 10 + 1, gated per probe DISTRIBUTED. The
    // stock plan is a TRUE BroadcastNestedLoopJoin (6e9 predicate
    // evaluations at 6M probes); the bucketized keyless operator
    // (range partitioning + keyed band merge on the bucket) stays
    // O(input + output) and also runs at 60M. The auto-rewrite claim
    // on the identical stock join is pinned at the end.
    val gdim = spark.range(1000L).select(
      (col("id") * 10).as("g_us"), col("id").as("g_id"))
    val keylessExpected =
      expr("p_us div 10 - (greatest(p_us - 19, 0) + 9) div 10 + 1")
    def keylessProbes(n: Long) = spark.range(n).select(
      (col("id") % 10000).as("p_us"), col("id").as("p_id"))
    def keylessGate(joined: => org.apache.spark.sql.DataFrame) = timed {
      val out = joined
        .groupBy(col("p_id"), col("p_us"))
        .agg(count(col("g_id")).as("n"))
        .agg(count(lit(1)).as("probes"),
          sum(when(col("n") =!= keylessExpected, 1L).otherwise(0L)).as("bad"))
        .collect()(0)
      (out.getLong(0), out.getLong(1))
    }
    def nativeKeyless(n: Long) = PlanBridge.bandJoinKeyless(
      keylessProbes(n), gdim, "p_us", "g_us", -19L, 0L)
    def loopKeyless(n: Long) = keylessProbes(n).join(gdim,
      col("g_us") <= col("p_us") && col("g_us") >= col("p_us") - 19,
      "left_outer")
    val nk = 6000000L
    val kn1 = keylessGate(nativeKeyless(nk)); val kn2 = keylessGate(nativeKeyless(nk))
    assert(kn2._1 == (nk, 0L), s"keyless native gates: ${kn2._1}")
    val kl1 = keylessGate(loopKeyless(nk)); val kl2 = keylessGate(loopKeyless(nk))
    assert(kl2._1 == kn2._1, s"keyless parity: loop ${kl2._1} native ${kn2._1}")
    val kx1 = keylessGate(nativeKeyless(nk * 10))
    val kx2 = keylessGate(nativeKeyless(nk * 10))
    assert(kx2._1 == (nk * 10, 0L), s"keyless native 60m gates: ${kx2._1}")
    val tKeylessNative = math.min(kn1._2, kn2._2)
    val tKeylessLoop = math.min(kl1._2, kl2._2)
    val tKeylessNative10x = math.min(kx1._2, kx2._2)
    spark.conf.set(graft.plans.BandJoinAutoRewrite.ConfKey, "true")
    assert(loopKeyless(nk).queryExecution.executedPlan.toString
        .contains("BandJoin"),
      "auto-rewrite did not claim the stock keyless band join")
    val krw1 = keylessGate(loopKeyless(nk)); val krw2 = keylessGate(loopKeyless(nk))
    assert(krw2._1 == (nk, 0L), s"keyless auto-rewrite gates: ${krw2._1}")
    spark.conf.set(graft.plans.BandJoinAutoRewrite.ConfKey, "false")
    val tKeylessRewrite = math.min(krw1._2, krw2._2)

    // dense-build keyless: 100k build rows (times 0..99999), 600k
    // probes — the nested loop is O(n·m) = 6e10 predicate evaluations
    // regardless of how few pairs match, while the bucketized operator
    // stays O(input + output) (~20 matches/probe). One rep for the
    // loop baseline (it is the slow side by construction).
    val gdense = spark.range(100000L).select(
      col("id").as("g_us"), col("id").as("g_id"))
    val denseKeylessExpected =
      expr("least(p_us, 19) + 1")
    def denseKeylessProbes(n: Long) = spark.range(n).select(
      (col("id") % 100000).as("p_us"), col("id").as("p_id"))
    def denseKeylessGate(joined: => org.apache.spark.sql.DataFrame) = timed {
      val out = joined
        .groupBy(col("p_id"), col("p_us"))
        .agg(count(col("g_id")).as("n"))
        .agg(count(lit(1)).as("probes"),
          sum(when(col("n") =!= denseKeylessExpected, 1L).otherwise(0L)).as("bad"))
        .collect()(0)
      (out.getLong(0), out.getLong(1))
    }
    val nkd = 600000L
    val dk1 = denseKeylessGate(PlanBridge.bandJoinKeyless(
      denseKeylessProbes(nkd), gdense, "p_us", "g_us", -19L, 0L))
    val dk2 = denseKeylessGate(PlanBridge.bandJoinKeyless(
      denseKeylessProbes(nkd), gdense, "p_us", "g_us", -19L, 0L))
    assert(dk2._1 == (nkd, 0L), s"dense keyless native gates: ${dk2._1}")
    val dl1 = denseKeylessGate(denseKeylessProbes(nkd).join(gdense,
      col("g_us") <= col("p_us") && col("g_us") >= col("p_us") - 19,
      "left_outer"))
    assert(dl1._1 == dk2._1, s"dense keyless parity: ${dl1._1} vs ${dk2._1}")
    val tDenseKeylessNative = math.min(dk1._2, dk2._2)
    val tDenseKeylessLoop = dl1._2

    // ---- KEYLESS as-of scenario: the bucket+carry composition ----
    // 1,000 global build rows at times 0,10..9990; probes t = id %
    // 10000 — closed form: match = t - t%10, id = match/10, no nulls.
    // The naive global form (union + last() over a NO-PARTITION window)
    // serializes everything through one partition — measured once at
    // 6M for the contrast; the composition runs at 6M and 60M.
    def keylessAsofGate(joined: => org.apache.spark.sql.DataFrame) = timed {
      val out = joined
        .agg(count(lit(1)).as("rows"),
          sum(when(col("g_id").isNull ||
            col("g_id") =!= (col("p_us") / 10).cast("long"), 1L)
            .otherwise(0L)).as("bad"))
        .collect()(0)
      (out.getLong(0), out.getLong(1))
    }
    def kaProbes(n: Long) = spark.range(n).select(
      (col("id") % 10000).as("p_us"), col("id").as("p_id"))
    def nativeKa(n: Long) = graft.plans.AsofKeyless.asofJoinKeyless(
      kaProbes(n), gdim, "p_us", "g_us")
    val ka1 = keylessAsofGate(nativeKa(nk)); val ka2 = keylessAsofGate(nativeKa(nk))
    assert(ka2._1 == (nk, 0L), s"keyless asof gates: ${ka2._1}")
    val kax1 = keylessAsofGate(nativeKa(nk * 10))
    val kax2 = keylessAsofGate(nativeKa(nk * 10))
    assert(kax2._1 == (nk * 10, 0L), s"keyless asof 60m gates: ${kax2._1}")
    // the naive single-partition global window, once, at 6M
    def naiveKa(n: Long) = {
      val tagged = gdim
        .select(col("g_us").as("t"), lit(0).as("side"),
          struct(col("g_us").as("m_us"), col("g_id").as("m_id")).as("v"),
          lit(null).cast("long").as("p_us"), lit(null).cast("long").as("p_id"))
        .unionByName(kaProbes(n)
          .select(col("p_us").as("t"), lit(1).as("side"),
            lit(null).cast("struct<m_us:bigint,m_id:bigint>").as("v"),
            col("p_us"), col("p_id")))
      val w = Window.orderBy(col("t"), col("side"))
        .rowsBetween(Window.unboundedPreceding, 0)
      tagged.withColumn("last_v", last(col("v"), ignoreNulls = true).over(w))
        .filter(col("side") === 1)
        .select(col("p_us"), col("p_id"),
          col("last_v.m_us").as("g_us"), col("last_v.m_id").as("g_id"))
    }
    val kn1n = keylessAsofGate(naiveKa(nk))
    assert(kn1n._1 == (nk, 0L), s"naive keyless asof gates: ${kn1n._1}")
    val tKaNative = math.min(ka1._2, ka2._2)
    val tKaNative10x = math.min(kax1._2, kax2._2)
    val tKaNaive = kn1n._2

    println(s"""{"tool":"AsofStress","users":$users,"views_per_user":$k,""" +
      s""""n_events":${users * (2 * k + 1)},"nulls":$nulls,"bad":$bad,""" +
      s""""native_sec":${f"$tNative%.1f"},"window_sec":${f"$tWindow%.1f"},""" +
      s""""dim_broadcast_sec":${f"$tB%.1f"},"dim_merge_sec":${f"$tM%.1f"},""" +
      s""""skew_unsalted_sec":${f"$tU%.1f"},"skew_salted_sec":${f"$tS%.1f"},""" +
      s""""skew_aqe_sec":${f"$tA%.1f"},""" +
      s""""hotbuild_balanced_sec":${f"$tHbBalanced%.1f"},""" +
      s""""hotbuild_stock_sec":${f"$tHbStock%.1f"},""" +
      s""""hotbuild_bucketed_sec":${f"$tHbBucketed%.1f"},""" +
      s""""hotbuild_auto_sec":${f"$tHbAuto%.1f"},""" +
      s""""band_native_60m_sec":${f"$tBandFull%.1f"},""" +
      s""""band_native_6m_sec":${f"$tBandTenth%.1f"},""" +
      s""""band_residual_6m_sec":${f"$tResTenth%.1f"},""" +
      s""""band_dense_native_600k_sec":${f"$tDenseNative%.1f"},""" +
      s""""band_dense_residual_600k_sec":${f"$tDenseResidual%.1f"},""" +
      s""""band_dense_native_6m_sec":${f"$tDenseNative10x%.1f"},""" +
      s""""band_dense_autorewrite_600k_sec":${f"$tRewrite%.1f"},""" +
      s""""band_keyless_native_6m_sec":${f"$tKeylessNative%.1f"},""" +
      s""""band_keyless_nestedloop_6m_sec":${f"$tKeylessLoop%.1f"},""" +
      s""""band_keyless_native_60m_sec":${f"$tKeylessNative10x%.1f"},""" +
      s""""band_keyless_autorewrite_6m_sec":${f"$tKeylessRewrite%.1f"},""" +
      s""""band_keyless_dense_native_600k_sec":${f"$tDenseKeylessNative%.1f"},""" +
      s""""band_keyless_dense_nestedloop_600k_sec":${f"$tDenseKeylessLoop%.1f"},""" +
      s""""asof_keyless_native_6m_sec":${f"$tKaNative%.1f"},""" +
      s""""asof_keyless_native_60m_sec":${f"$tKaNative10x%.1f"},""" +
      s""""asof_keyless_globalwindow_6m_sec":${f"$tKaNaive%.1f"}}""")
    spark.stop()
  }
}
