package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge

/** KEYLESS as-of join — "the latest build row at-or-before each probe
  * time, across the WHOLE table" (match every event to the latest
  * global config change / exchange-rate tick / calibration snapshot) —
  * composed EXACTLY from the keyed operator family, with no
  * single-partition stage on anything input-sized:
  *
  *  1. Both sides bucket by a time width `w` (exact integer floor
  *     division; no replication — unlike the band's bucketization, an
  *     as-of match can reach arbitrarily far back, so reachback is
  *     handled by a carry table instead of copying build rows).
  *  2. A keyed [[TimeJoinPlan]] as-of merge on the BUCKET resolves every
  *     probe whose own bucket contains a candidate — both sides
  *     shuffle-partition by time range, the IEJoin layout.
  *  3. Probes with an empty in-bucket result fall back to the
  *     PER-BUCKET CARRY table: one row per non-empty build bucket
  *     carrying the latest build row in any bucket AT-OR-BEFORE it
  *     (backward; earliest at-or-after for forward) — a running
  *     extremum over a bucket-count-sized aggregate. The fallback
  *     probes it with the BROADCAST as-of on bucket ids, at probe
  *     bucket ∓ 1 so a probe in an empty bucket still sees every
  *     build bucket strictly before (after) its own. The probe side
  *     never shuffles for the fallback; the carry table is bounded by
  *     the bucket count (the window over it is single-partition but
  *     bucket-count-sized, never input-sized).
  *  4. An in-bucket candidate is always strictly later (earlier, for
  *     forward) than anything the carry can offer, so "in-bucket if
  *     matched, else carry" is exact with no tie to break. The carry
  *     row is taken AS A WHOLE (never per-column coalesce — a matched
  *     build row with a legitimately null payload column must not
  *     borrow the carry row's value).
  *
  * Same contracts as [[AsofJoinExec]]: LongType micro times, build
  * pre-reduced to one row per time for determinism, left-outer.
  * SQL null semantics: null-time build rows are dropped (they can
  * never match); null-time probes route AROUND the operator and emit
  * the null-extended row. Tolerance applies to the final match
  * distance, either source.
  *
  * Bucket width: `(maxT − minT) / (16 × shuffle partitions)` as a LAZY
  * scalar subquery over the build side (`Dataset.scalar()`) — exactness
  * never depends on it, only step 2's parallelism and step 3's table
  * size, and deferring it means EXPLAIN / view resolution / repeated
  * re-analysis launch ZERO jobs (the 2-long aggregate runs inside the
  * query, once per subquery instance, deterministic so every instance
  * agrees). Bucket ids are the bucket FLOOR VALUE `t − pmod(t, w)` —
  * order- and equality-equivalent to the index `t div w` but computed
  * with pure long arithmetic, so no division of a subquery column is
  * ever needed.
  */
object AsofKeyless {

  /** `(max − min) div (16 × parts)` over the build side as a lazy
    * scalar subquery; empty build → a default ~13-day width (any
    * positive value is exact, merely un-tuned — the
    * never-pin-an-empty-verdict rule holds because the subquery
    * re-evaluates per execution). The double division is only a WIDTH
    * (parallelism knob): a half-ulp wobble cannot occur across
    * instances because the computation is deterministic. */
  private def widthCol(build: DataFrame, rightTime: String,
      parts: Int): Column = {
    val mm = build
      .agg(struct(min(col(rightTime)).cast("long").as("mn"),
        max(col(rightTime)).cast("long").as("mx")).as("mm"))
      .scalar()
    val span = mm.getField("mx") - mm.getField("mn")
    greatest(
      coalesce(floor(span / lit(math.max(16 * parts, 1))).cast("long"),
        lit(1L << 40)),
      lit(1L))
  }

  private def bucketCol(name: String, w: Column): Column = {
    val c = col(s"`${name.replace("`", "``")}`")
    c - pmod(c, w)
  }

  /** Keyless as-of `left` (probe) to `right` (build). Column-name
    * contracts as [[PlanBridge.asofJoin]] (disjoint names); times
    * LongType micros. `hint` steers the IN-BUCKET join: batch defaults
    * to merge ("broadcast" ships the whole bucketed build instead);
    * a streaming probe defaults to broadcast (the stream never
    * shuffles) with an explicit "merge" honored — a build too large to
    * broadcast shuffles the microbatch, a legal stateless per-trigger
    * exchange. The carry fallback join is ALWAYS broadcast: the carry
    * table is bucket-count-sized by construction.
    * STREAM-STATIC: a streaming probe side works — the in-bucket join
    * switches to the broadcast as-of (stateless per microbatch, probe
    * never shuffles) and the carry table is a bucket-count-sized
    * STATIC aggregate broadcast the same way. A streaming BUILD side
    * has no bounded-state formulation here (the carry is a global
    * running extremum) and is refused by [[PlanBridge.timeJoin]]. */
  def asofJoinKeyless(left: DataFrame, right: DataFrame,
      leftTime: String, rightTime: String,
      direction: String = "backward", toleranceUs: Long = -1L,
      hint: String = "auto"): DataFrame =
    PlanBridge.timeJoin(left, right,
      TimeJoin.keyless(leftTime, rightTime, Asof(direction, toleranceUs), hint))

  /** The composition behind a keyless as-of — [[PlanBridge.timeJoin]]'s
    * lowering, reached after it has checked `join` and both sides. */
  def composed(left: DataFrame, right: DataFrame, join: TimeJoin,
      asof: Asof): DataFrame = {
    val (leftTime, rightTime, hint) = (join.leftTime, join.rightTime, join.hint)
    val (fwd, toleranceUs) = (asof.forward, asof.toleranceUs)
    // both inner joins match without tolerance; it applies at the end
    val untolerant = asof.copy(toleranceUs = -1L)
    val streaming = left.isStreaming
    val spark = left.sparkSession
    val rCols = right.columns.toSeq

    val build = right.filter(col(rightTime).isNotNull)
    // Bucket width as a LAZY scalar subquery over the build side — no
    // job at plan-build time (EXPLAIN and re-analysis stay free); the
    // 2-long aggregate runs inside the query itself. STREAMING probe:
    // scalar subqueries don't belong in a streaming plan, so the width
    // is computed eagerly from the STATIC build side instead — one
    // bounded 2-long job at stream-definition time, the norm for
    // streaming setup.
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val w: Column =
      if (!streaming) widthCol(build, rightTime, parts)
      else {
        val mm = build.agg(min(col(rightTime)).cast("long"),
          max(col(rightTime)).cast("long")).head
        lit(
          if (mm.isNullAt(0)) 1L << 40
          else math.max(
            (mm.getLong(1) - mm.getLong(0)) / math.max(16 * parts, 1), 1L))
      }

    // null-time probes can never match: route them around (SQL LEFT
    // JOIN shape), so the operators only ever see non-null times
    val lOk = left.filter(col(leftTime).isNotNull)
    val lNull = left.filter(col(leftTime).isNull)

    val l2 = lOk.withColumn("__graft_ab_l", bucketCol(leftTime, w))
    val r2 = build.withColumn("__graft_ab_r", bucketCol(rightTime, w))

    // 2) in-bucket keyed as-of (merge: both sides time-range
    // partitioned; streaming probe: broadcast — the static build side
    // ships to executors and each microbatch probes it statelessly)
    val inBucketHint =
      if (streaming) TimeJoinPlan.steerHint(probeIsStreaming = true, hint)
      else { if (hint == "broadcast") "broadcast" else "merge" }
    val inBucket = PlanBridge.timeJoin(l2, r2, TimeJoin(
      Seq("__graft_ab_l" -> "__graft_ab_r"), leftTime, rightTime, untolerant,
      inBucketHint))

    // 3) per-bucket extremum, then the running carry INCLUDING the own
    // bucket (probed at bucket ∓ 1, so an empty probe bucket still
    // sees every strictly-earlier/later build bucket)
    val rStruct = struct(col(rightTime).as("__t") +:
      rCols.map(c => col(c).as(c)): _*)
    val perBucket = r2.groupBy(col("__graft_ab_r").as("__graft_pb"))
      .agg((if (fwd) min(rStruct) else max(rStruct)).as("__graft_ext"))
    val wspec = (if (fwd) Window.orderBy(col("__graft_pb").desc)
      else Window.orderBy(col("__graft_pb")))
      .rowsBetween(Window.unboundedPreceding, 0)
    val carryAgg = if (fwd) min(col("__graft_ext")) else max(col("__graft_ext"))
    val carry = perBucket
      .withColumn("__graft_carry", carryAgg.over(wspec))
      .select(col("__graft_pb") +: ("__t" +: rCols).map(c =>
        col(s"__graft_carry.`$c`").as(s"__graft_c_$c")): _*)

    // 4) fallback probe: broadcast as-of on bucket ids with a constant
    // key (the broadcast probe is a per-row index lookup — the probe
    // side still never shuffles and the constant key costs nothing).
    // "Bucket ∓ 1" in floor-value space is ∓ w — the neighboring
    // bucket's floor (w instantiates its subquery again here; it is
    // deterministic, so every instance agrees).
    val probeBucket = if (fwd) col("__graft_ab_l") + w
      else col("__graft_ab_l") - w
    val joined = PlanBridge.timeJoin(
      inBucket.withColumn("__graft_k1", lit(1L))
        .withColumn("__graft_fb", probeBucket),
      carry.withColumn("__graft_k2", lit(1L)),
      TimeJoin(Seq("__graft_k1" -> "__graft_k2"), "__graft_fb", "__graft_pb",
        untolerant, "broadcast"))

    val inMatched = col(rightTime).isNotNull
    val matchTime = when(inMatched, col(rightTime))
      .otherwise(col("__graft_c___t"))
    val tolOk: Column =
      if (toleranceUs < 0) matchTime.isNotNull
      else if (fwd) matchTime - col(leftTime) <= toleranceUs
      else col(leftTime) - matchTime <= toleranceUs
    val outCols = left.columns.map(col).toSeq ++ rCols.map { c =>
      when(tolOk && inMatched, col(c))
        .when(tolOk && !inMatched, col(s"__graft_c_$c")).as(c)
    }
    joined.select(outCols: _*)
      .unionByName(TimeJoin.nullExtended(lNull, right))
  }
}
