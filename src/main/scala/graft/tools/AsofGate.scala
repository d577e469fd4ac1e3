package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import graft.plans.BandJoinAutoRewrite
import graft.tools.Scale.timed

/** Closed-form gate for the native as-of operator (AsofJoinExec)
  * — the Gram/Sketch/Graph/Lsh gate pattern applied to ev08b's merge.
  *
  * Synthetic event stream, generated map-side from spark.range at
  * ~600x sf0.1's event count (size U = users, default 200k, x K=150):
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
  * measured, not asserted. Every leg's row count derives from U; the
  * figures in the scenario comments below are those of the default
  * U = 200k (n = U*(2K+1) = 60.2M events). Results in docs/ROUND10.md.
  */
private[tools] object AsofGate {

  /** `df`'s row count, then for each condition the rows that meet it —
    * one distributed aggregate, nothing corpus-sized is collected. */
  private def census(df: DataFrame, conds: Column*): Seq[Long] = {
    val r = df.agg(count(lit(1)), conds.map(c => sum(when(c, 1L).otherwise(0L))): _*)
      .head()
    (0 to conds.size).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  /** Probes and mismatches of a per-probe band count against its closed
    * form `expected`, regrouped on p_id and gated distributed; `buildId`
    * is the build side's id column (null when a probe matched nothing). */
  private def bandGate(joined: DataFrame, buildId: String, expected: Column): Seq[Long] =
    census(joined.groupBy(col("p_id"), col("p_us")).agg(count(col(buildId)).as("n")),
      col("n") =!= expected)

  def run(spark: SparkSession, users: Long): Scale.Measures = {
    val k = 150L // K, views per user
    // each leg's wall seconds, in run order: at the full size the faster
    // of two reps (rep 1 pays JIT + codegen warmup), one rep for the slow
    // baselines; below it the timings are not the point, so one rep
    val secs = scala.collection.mutable.LinkedHashMap[String, Double]()
    val warmReps = if (users >= Scale.gates("asof").size) 2 else 1
    def leg[A](name: String, reps: Int = warmReps)(f: => A): A = {
      val runs = Seq.fill(reps)(timed(f))
      secs(name + "_sec") = runs.map(_._2).min
      runs.last._1
    }
    // `f` run with `kvs` set on the session, the prior values restored
    def withConf[A](kvs: (String, String)*)(f: => A): A = {
      val prior = kvs.map { case (key, _) => key -> spark.conf.getOption(key) }
      kvs.foreach { case (key, v) => spark.conf.set(key, v) }
      try f
      finally prior.foreach { case (key, v) =>
        v.fold(spark.conf.unset(key))(spark.conf.set(key, _)) }
    }
    // the engine's extensions carry the AQE skew-split rule
    // (OptimizeSkewedGraftJoin) the skew scenario measures. local[32]
    // skew tuning: the hot partition (~20% of 60M rows) must read as
    // skewed against the ~2.5%-of-rows median (factor 5 catches it) and
    // split to ~advisory-sized slices
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
    // the residual-form baselines below must stay STOCK joins although
    // this session carries the graft extensions — the whole point is
    // measuring the operator against what Spark does without it
    spark.conf.set(BandJoinAutoRewrite.ConfKey, "false")
    // same isolation for the AQE skew split: baselines measure the raw
    // operator; the skew scenario flips this on for its AQE leg only
    val skewJoinKey = "spark.sql.adaptive.skewJoin.enabled"
    spark.conf.set(skewJoinKey, "false")

    // map-side generators: one range each, no shuffle before the join.
    // Keyed probes (key = id % keys, time = a hash of id mod span, so
    // every key sees the whole time range: `id % span` would give each
    // key only the times congruent to it), keyless probes, and keyed
    // build sides (`perKey` rows per key at times 0, step, 2·step, ...,
    // id = row number)
    def hashedTime(span: Long) = pmod(xxhash64(col("id")), lit(span)).as("p_us")
    def keyedProbes(n: Long, keys: Long, span: Long) = spark.range(n).select(
      (col("id") % keys).as("p_key"), hashedTime(span), col("id").as("p_id"))
    def keylessProbes(n: Long, span: Long) = spark.range(n).select(
      (col("id") % span).as("p_us"), col("id").as("p_id"))
    def keyedBuild(p: String, keys: Long, perKey: Long, step: Long) =
      spark.range(keys * perKey).select((col("id") / perKey).cast("long").as(s"${p}_key"),
        (col("id") % perKey * step).as(s"${p}_us"), col("id").as(s"${p}_id"))
    val views = spark.range(users * k).select(
      (col("id") / k).cast("long").as("v_user_id"),
      (col("id") % k * 10).as("v_us"),
      col("id").as("v_event_id"))
    val purchases = spark.range(users * (k + 1)).select(
      (col("id") / (k + 1)).cast("long").as("user_id"),
      when(col("id") % (k + 1) === k, lit(-5L))
        .otherwise(col("id") % (k + 1) * 10 + 5).as("us"),
      col("id").as("event_id"))

    val Seq(rows, nulls, bad, earlyMatched) = leg("native")(census(
      PlanBridge.asofJoin(purchases, views, Seq("user_id" -> "v_user_id"), "us", "v_us"),
      col("v_us").isNull,
      col("us") =!= -5L && (col("v_us") =!= col("us") - 5 ||
        col("v_event_id") =!= col("user_id") * k + (col("us") - 5) / 10),
      col("us") === -5L && col("v_us").isNotNull))
    assert(rows == users * (k + 1), s"rows $rows != ${users * (k + 1)}")
    assert(nulls == users, s"nulls $nulls != $users")
    assert(bad == 0, s"$bad wrong matches")
    assert(earlyMatched == 0, s"$earlyMatched early probes matched")

    // the union+window form (ev08's shape) on identical data
    val Seq(_, windowNulls) = leg("window") {
      val tagged = views
        .select(col("v_user_id").as("user_id"), col("v_us").as("us"),
          lit(0).as("side"),
          struct(col("v_us").as("m_us"), col("v_event_id").as("m_id")).as("v"))
        .unionByName(purchases
          .select(col("user_id"), col("us"), lit(1).as("side"),
            lit(null).cast("struct<m_us:bigint,m_id:bigint>").as("v")))
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("side"))
        .rowsBetween(Window.unboundedPreceding, 0)
      census(tagged.withColumn("last_v", last(col("v"), ignoreNulls = true).over(w))
        .filter(col("side") === 1), col("last_v").isNull)
    }
    assert(windowNulls == users, s"window form nulls $windowNulls != $users")

    // ---- small-dimension scenario: where the broadcast variant lives ----
    // 1000 keys x 100 dimension rows (times 0,100..9900) probed by the
    // same 60M-row stream (key = id % 1000, t = hash(id) mod 10000): every
    // probe's match is exactly (k*100 + t/100) — closed form, verified
    // distributed. Broadcast never shuffles the probe; merge pays a
    // full probe exchange + sort for a 100k-row build side.
    val nFull = users * (2 * k + 1)
    val dimKeys = 1000L
    val dim = keyedBuild("d", dimKeys, 100, 100)
    val probes = keyedProbes(nFull, dimKeys, 10000)
    // rows, mismatches against the key-independent closed form
    // (match = p_key*100 + p_us div 100) and nulls
    def dimGates(name: String)(join: => DataFrame) = leg(name)(census(join,
      col("d_id") =!= col("p_key") * 100 + (col("p_us") / 100).cast("long"),
      col("d_us").isNull))
    def dimJoin(hint: String) = PlanBridge.asofJoin(probes, dim,
      Seq("p_key" -> "d_key"), "p_us", "d_us", hint)
    val bGates = dimGates("dim_broadcast")(dimJoin("broadcast"))
    val mGates = dimGates("dim_merge")(dimJoin("merge"))
    assert(bGates == Seq(nFull, 0L, 0L), s"broadcast dim gates: (rows, bad, nulls) $bGates")
    assert(mGates == bGates, "merge and broadcast disagree on the dim scenario")

    // forward direction on the same dim scenario, closed form: match =
    // smallest d_us >= t, i.e. d_id = k*100 + ceil(t/100); null iff
    // t > 9900 (no dim row at 10000). Gates fully distributed.
    val fwd = census(PlanBridge.asofJoin(probes, dim,
        Seq("p_key" -> "d_key"), "p_us", "d_us", "broadcast", "forward"),
      col("d_us").isNull && col("p_us") <= 9900,
      col("d_us").isNotNull && col("p_us") > 9900,
      col("d_us").isNotNull && col("d_id") =!= expr("p_key * 100 + (p_us + 99) div 100"))
    assert(fwd.tail == Seq(0L, 0L, 0L), s"forward gates: (rows, missed, phantom, bad) $fwd")

    // ---- skew scenario: one key holds 20% of the 60M probes ----
    // Same dim build side and the same key-independent closed form
    // (match = p_key*100 + p_us div 100), but every 5th probe lands on
    // key 7 — the plain merge sorts ~20% of the stream in ONE
    // partition, while the AQE skew split (OptimizeSkewedGraftJoin)
    // slices that partition by mapper ranges and replicates the hot
    // key's 100 build rows to every slice. Gates identical for both
    // runs: the split must change the layout, never a match.
    val hotKey = 7L
    val skewProbes = spark.range(nFull).select(
      when(col("id") % 5 === 0, lit(hotKey))
        .otherwise(col("id") % dimKeys).as("p_key"),
      hashedTime(10000),
      col("id").as("p_id"))
    def skewJoin = PlanBridge.asofJoin(skewProbes, dim,
      Seq("p_key" -> "d_key"), "p_us", "d_us", "merge")
    val uGates = dimGates("skew_unsalted")(skewJoin)
    assert(uGates == Seq(nFull, 0L, 0L), s"skew gates: (rows, bad, nulls) $uGates")

    // the SAME stock call with the AQE skew split on: zero user action —
    // must match the plain run's gates exactly
    val aGates = withConf(skewJoinKey -> "true")(
      dimGates("skew_aqe")(skewJoin))
    assert(aGates == uGates, s"AQE skew gates diverge: $aGates vs $uGates")

    // ---- hot-BUILD scenario: 20%+ of the BUILD rows on one key ----
    // The opposite skew quadrant: probes uniform (12M over 1000 keys),
    // build 30M rows of which key 7 holds 6M — the stock merge sorts
    // the 6M-row build history in ONE partition. Salting the probes
    // can't help (it would replicate those 6M rows per salt) and the AQE
    // probe-slice can't either (each slice would re-sort the full hot
    // build partition: b_i >> p_i, the rule's warn-and-leave case), so
    // the quadrant's cost is measured against a BALANCED control of
    // the same total size. Closed form: balanced build = 1000 keys × 24000
    // rows at times 0..23999 (b_id = key*24000 + t); the hot variant
    // ADDS 6M rows on key 7 at times 24000.. — unreachable by any
    // probe (t ≤ 9999), so both runs must produce IDENTICAL
    // matches: d_id = p_key*24000 + p_us, no nulls, gated distributed.
    // With U users: per-key rows P = 120U/1000 (24000), probe times
    // t < 5P/12 (10000), hot rows = a quarter of the balanced build.
    val hbPerKey = users * 120 / dimKeys
    val hbSpan = hbPerKey * 5 / 12
    val nHb = nFull / 5
    val hbProbes = keyedProbes(nHb, dimKeys, hbSpan)
    val balancedBuild = keyedBuild("d", dimKeys, hbPerKey, 1)
    val hotBuild = balancedBuild.unionAll(
      spark.range(dimKeys * hbPerKey / 4).select(
        lit(hotKey).as("d_key"),
        (col("id") + hbPerKey).as("d_us"),
        (col("id") + dimKeys * hbPerKey).as("d_id")))
    def hotBuildGates(name: String)(join: => DataFrame) = leg(name)(census(join,
      col("d_id").isNull || col("d_id") =!= col("p_key") * hbPerKey + col("p_us")))
    def hbJoin(build: DataFrame) = PlanBridge.asofJoin(hbProbes, build,
      Seq("p_key" -> "d_key"), "p_us", "d_us", "merge")
    val hbBal = hotBuildGates("hotbuild_balanced")(hbJoin(balancedBuild))
    val hbStock = hotBuildGates("hotbuild_stock")(hbJoin(hotBuild))
    assert(hbBal == Seq(nHb, 0L), s"hot-build balanced gates: $hbBal")
    assert(hbStock == hbBal, s"hot-build stock gates diverge: $hbStock vs $hbBal")

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
    def bandProbes(n: Long) = keyedProbes(n, dimKeys, 10000)
    val nTenth = nFull / 10
    def nativeBand(n: Long) = PlanBridge.bandJoin(bandProbes(n), dim,
      Seq("p_key" -> "d_key"), "p_us", "d_us", -199L, 0L)
    def residualBand(n: Long) = bandProbes(n).join(dim,
      col("p_key") === col("d_key") && col("d_us") <= col("p_us") &&
        col("d_us") >= col("p_us") - 199, "left_outer")
    val nb = leg("band_native_full")(bandGate(nativeBand(nFull), "d_id", bandExpected))
    assert(nb == Seq(nFull, 0L), s"native band gates: (probes, bad) $nb")
    val nt = leg("band_native_tenth")(bandGate(nativeBand(nTenth), "d_id", bandExpected))
    val rb = leg("band_residual_tenth")(
      bandGate(residualBand(nTenth), "d_id", bandExpected))
    assert(rb == nt && rb == Seq(nTenth, 0L), s"band parity: native $nt residual $rb")

    // ---- dense-build band scenario: where the product actually ----
    // ---- explodes. 100 keys × 10,000 build rows each; band [-19, 0]
    // (f = least(t,19)+1 matches). The residual form materializes
    // 10,000 candidates per probe before filtering — 6e9 rows at a
    // mere 600k probes — while the band merge's work stays
    // output-sized (~20 rows per probe). THIS is the regime the
    // native operator exists for; the small-build scenario above is
    // honestly the broadcast residual's (it never shuffles probes).
    // With U users: U/20 build rows per key (10,000), 3U probes (600k).
    val denseKeys = 100L
    val densePerKey = users / 20
    val dim2 = keyedBuild("e", denseKeys, densePerKey, 1)
    val bandExpected2 = expr("least(p_us, 19) + 1")
    def bandProbes2(n: Long) = keyedProbes(n, denseKeys, densePerKey)
    val nDense = users * 3
    def nativeDense(n: Long) = PlanBridge.bandJoin(bandProbes2(n), dim2,
      Seq("p_key" -> "e_key"), "p_us", "e_us", -19L, 0L)
    def residualDense(n: Long) = bandProbes2(n).join(dim2,
      col("p_key") === col("e_key") && col("e_us") <= col("p_us") &&
        col("e_us") >= col("p_us") - 19, "left_outer")
    val dn = leg("band_dense_native")(
      bandGate(nativeDense(nDense), "e_id", bandExpected2))
    val dr = leg("band_dense_residual")(
      bandGate(residualDense(nDense), "e_id", bandExpected2))
    assert(dn == Seq(nDense, 0L) && dr == dn, s"dense band gates: native $dn residual $dr")
    // and the native path at 10x the probes, same closed-form gate
    val dx = leg("band_dense_native_10x")(
      bandGate(nativeDense(nDense * 10), "e_id", bandExpected2))
    assert(dx == Seq(nDense * 10, 0L), s"dense band native 10x gates: $dx")

    // ---- the auto-rewrite end-to-end: the IDENTICAL stock join ----
    // (residualDense's code, untouched) with BandJoinAutoRewrite
    // enabled must plan onto the band operator and run in the native
    // class — the proof that plain-SQL/DataFrame users actually
    // receive the operator at scale, not just in unit tests. Gates
    // stay the closed-form per-probe counts.
    val rw = withConf(BandJoinAutoRewrite.ConfKey -> "true") {
      assert(residualDense(nDense).queryExecution.executedPlan.toString
          .contains("BandJoin"),
        "auto-rewrite did not claim the stock dense band join")
      leg("band_dense_autorewrite")(bandGate(residualDense(nDense), "e_id", bandExpected2))
    }
    assert(rw == Seq(nDense, 0L), s"auto-rewrite gates: $rw")

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
    // With U users: 30U probes (6M), 300U at 10x.
    val gdim = spark.range(1000L).select(
      (col("id") * 10).as("g_us"), col("id").as("g_id"))
    val keylessExpected =
      expr("p_us div 10 - (greatest(p_us - 19, 0) + 9) div 10 + 1")
    def nativeKeyless(n: Long) = PlanBridge.bandJoinKeyless(
      keylessProbes(n, 10000), gdim, "p_us", "g_us", -19L, 0L)
    def loopKeyless(n: Long) = keylessProbes(n, 10000).join(gdim,
      col("g_us") <= col("p_us") && col("g_us") >= col("p_us") - 19,
      "left_outer")
    val nk = users * 30
    val kn = leg("band_keyless_native")(
      bandGate(nativeKeyless(nk), "g_id", keylessExpected))
    assert(kn == Seq(nk, 0L), s"keyless native gates: $kn")
    val kl = leg("band_keyless_nestedloop")(
      bandGate(loopKeyless(nk), "g_id", keylessExpected))
    assert(kl == kn, s"keyless parity: loop $kl native $kn")
    val kx = leg("band_keyless_native_10x")(
      bandGate(nativeKeyless(nk * 10), "g_id", keylessExpected))
    assert(kx == Seq(nk * 10, 0L), s"keyless native 10x gates: $kx")
    val krw = withConf(BandJoinAutoRewrite.ConfKey -> "true") {
      assert(loopKeyless(nk).queryExecution.executedPlan.toString
          .contains("BandJoin"),
        "auto-rewrite did not claim the stock keyless band join")
      leg("band_keyless_autorewrite")(bandGate(loopKeyless(nk), "g_id", keylessExpected))
    }
    assert(krw == Seq(nk, 0L), s"keyless auto-rewrite gates: $krw")

    // dense-build keyless: 100k build rows (times 0..99999), 600k
    // probes — the nested loop is O(n·m) = 6e10 predicate evaluations
    // regardless of how few pairs match, while the bucketized operator
    // stays O(input + output) (~20 matches/probe). One rep for the
    // loop baseline (it is the slow side by construction).
    // With U users: U/2 build rows (100k), 3U probes (600k).
    val gdenseRows = users / 2
    val gdense = spark.range(gdenseRows).select(
      col("id").as("g_us"), col("id").as("g_id"))
    def denseKeylessProbes(n: Long) = keylessProbes(n, gdenseRows)
    val nkd = users * 3
    val dk = leg("band_keyless_dense_native")(bandGate(PlanBridge.bandJoinKeyless(
      denseKeylessProbes(nkd), gdense, "p_us", "g_us", -19L, 0L), "g_id", bandExpected2))
    assert(dk == Seq(nkd, 0L), s"dense keyless native gates: $dk")
    val dl = leg("band_keyless_dense_nestedloop", reps = 1)(
      bandGate(denseKeylessProbes(nkd).join(gdense,
        col("g_us") <= col("p_us") && col("g_us") >= col("p_us") - 19,
        "left_outer"), "g_id", bandExpected2))
    assert(dl == dk, s"dense keyless parity: $dl vs $dk")

    // ---- KEYLESS as-of scenario: the bucket+carry composition ----
    // 1,000 global build rows at times 0,10..9990; probes t = id %
    // 10000 — closed form: match = t - t%10, id = match/10, no nulls.
    // The naive global form (union + last() over a NO-PARTITION window)
    // serializes everything through one partition — measured once at
    // 6M for the contrast; the composition runs at 6M and 60M.
    def keylessAsofGate(joined: DataFrame) = census(joined,
      col("g_id").isNull || col("g_id") =!= (col("p_us") / 10).cast("long"))
    def nativeKa(n: Long) = graft.plans.AsofKeyless.asofJoinKeyless(
      keylessProbes(n, 10000), gdim, "p_us", "g_us")
    val ka = leg("asof_keyless_native")(keylessAsofGate(nativeKa(nk)))
    assert(ka == Seq(nk, 0L), s"keyless asof gates: $ka")
    val kax = leg("asof_keyless_native_10x")(keylessAsofGate(nativeKa(nk * 10)))
    assert(kax == Seq(nk * 10, 0L), s"keyless asof 10x gates: $kax")
    // the naive single-partition global window, once
    def naiveKa(n: Long) = {
      val tagged = gdim
        .select(col("g_us").as("t"), lit(0).as("side"),
          struct(col("g_us").as("m_us"), col("g_id").as("m_id")).as("v"),
          lit(null).cast("long").as("p_us"), lit(null).cast("long").as("p_id"))
        .unionByName(keylessProbes(n, 10000)
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
    val kaNaive = leg("asof_keyless_globalwindow", reps = 1)(keylessAsofGate(naiveKa(nk)))
    assert(kaNaive == Seq(nk, 0L), s"naive keyless asof gates: $kaNaive")

    Seq("users" -> users, "views_per_user" -> k, "n_events" -> nFull,
      "nulls" -> nulls, "bad" -> bad) ++ secs
  }
}
