package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import graft.plans.{Asof, AsofJoinStrategy, AsofKeyless, Band, BandConds,
  TimeJoin, TimeJoinPlan}

/** The one `private[sql]`-visibility seam the graft planner extension
  * needs: constructing a DataFrame from a custom logical node
  * (`Dataset.ofRows`) and reading a session's planner. Everything else
  * in graft.plans uses public Catalyst extension points; this object
  * exists only because `ofRows` and the session state are
  * package-private, the standard arrangement for Spark extension
  * libraries. The tier itself is installed on a session only by
  * configuration: `spark.sql.extensions=graft.plans.GraftExtensions`,
  * which `graft.GraftSession` sets.
  */
object PlanBridge {

  /** A DataFrame over an analyzed logical plan — the ofRows seam for
    * rules that lower a plan by COMPOSING DataFrame-level machinery
    * (the keyless ASOF SQL lowering builds AsofKeyless's composition
    * around the clause's child plans). */
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Test seam: the planner strategies a config-injected session would
    * receive from `ext` (buildPlannerStrategies is package-private). */
  def plannerStrategies(ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: SparkSession): Seq[org.apache.spark.sql.execution.SparkStrategy] =
    ext.buildPlannerStrategies(spark)

  /** Time join `left` (probe) to `right` (build) as `join` describes
    * it — the one DataFrame entry of the as-of/band tier. Checks, in
    * order and before any job runs: the descriptor (its constructor),
    * a session whose planner carries [[AsofJoinStrategy]] (else the
    * plan would fail later with Spark's "No plan for TimeJoinPlan"),
    * disjoint column names across sides (alias before calling — also
    * what keeps a self-join's expression ids distinct), and a static
    * build side. Time columns must be LongType micros or either
    * timestamp type (physically long micros; tolerances and bounds stay
    * micro counts either way — see [[TimeJoin.timeTypeOk]]).
    * A keyed join plans as one [[TimeJoinPlan]], whose skewed
    * partitions [[OptimizeSkewedGraftJoin]] splits at runtime. A
    * keyless join runs as its range-bucketed composition:
    * [[graft.plans.AsofKeyless]] for as-of,
    * [[graft.plans.BandConds.lowerBandKeyless]] for a band. */
  def timeJoin(left: DataFrame, right: DataFrame, join: TimeJoin): DataFrame = {
    val spark = left.sparkSession.asInstanceOf[classic.SparkSession]
    require(spark.sessionState.planner.strategies.contains(AsofJoinStrategy),
      "time join needs a session built by graft.GraftSession, or one with " +
        s"spark.sql.extensions=${classOf[graft.plans.GraftExtensions].getName}: " +
        "this session's planner has no AsofJoinStrategy")
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    val shared = lPlan.output.map(_.name).toSet
      .intersect(rPlan.output.map(_.name).toSet)
    require(shared.isEmpty,
      s"time join sides must have disjoint column names; shared: $shared")
    // streaming BUILD has no bounded-state formulation here: each
    // microbatch would join against only that batch's build rows and
    // silently drop every cross-batch match. Streaming PROBE is the
    // supported stream-static shape.
    require(!right.isStreaming,
      "time join build side must be static (stream-static enrichment only)")
    join.kind match {
      case asof: Asof if join.keyless =>
        AsofKeyless.composed(left, right, join, asof)
      case band: Band if join.keyless =>
        val parts = BandConds.Parts(Nil, Nil,
          TimeJoin.resolve(lPlan, join.leftTime),
          TimeJoin.resolve(rPlan, join.rightTime), band.lowUs, band.highUs,
          Nil, Nil)
        classic.Dataset.ofRows(spark, BandConds.lowerBandKeyless(
          lPlan, rPlan, parts, join.hint, keepUnmatched = true))
      case _ => classic.Dataset.ofRows(spark, TimeJoinPlan(lPlan, rPlan, join))
    }
  }

  /** As-of join `left` (probe) to `right` (build): for each left row,
    * the right row with equal keys and the greatest `rightTime` at or
    * before `leftTime` ("backward", the default), or the smallest at or
    * after it ("forward"), or nulls. Contracts, `hint` and
    * `toleranceUs` as [[TimeJoin]] and [[Asof]] describe them. */
  def asofJoin(left: DataFrame, right: DataFrame,
      keys: Seq[(String, String)], leftTime: String, rightTime: String,
      hint: String = "auto", direction: String = "backward",
      toleranceUs: Long = -1L): DataFrame =
    timeJoin(left, right,
      TimeJoin(keys, leftTime, rightTime, Asof(direction, toleranceUs), hint))

  /** Banded (interval) join `left` (probe) to `right` (build): every
    * right row with equal keys and `rightTime` within
    * [leftTime + lowUs, leftTime + highUs], left-outer (no-match
    * probes emit one null-build row). Same contracts as [[asofJoin]];
    * the physical operator is the [[graft.plans.BandJoinExec]]
    * sliding-band merge — O(input + output) instead of the equi-join's
    * per-key candidate product. */
  def bandJoin(left: DataFrame, right: DataFrame,
      keys: Seq[(String, String)], leftTime: String, rightTime: String,
      lowUs: Long, highUs: Long, hint: String = "auto"): DataFrame =
    timeJoin(left, right,
      TimeJoin(keys, leftTime, rightTime, Band(lowUs, highUs), hint))

  /** KEYLESS banded join — every (left, right) pair with `rightTime`
    * within [leftTime + lowUs, leftTime + highUs], no equi-key at all
    * (global time-window correlation), left-outer like [[bandJoin]].
    * Runs as [[graft.plans.BandConds.lowerBandKeyless]]'s range
    * bucketization: probes floor-bucket by `max(highUs − lowUs, 1)`
    * micros, build rows replicate to their ≤ 3 reachable buckets, and
    * the keyed band merge runs with the bucket as its key — both sides
    * shuffle-partition by time range, O(input + output), where the
    * stock plan is a nested-loop cartesian. Time columns: LongType
    * micros or either timestamp type (bucket arithmetic runs on the
    * exact physical-micros extraction); SQL null semantics (null times
    * never match; null-time probes emit the null-extended row). */
  def bandJoinKeyless(left: DataFrame, right: DataFrame,
      leftTime: String, rightTime: String,
      lowUs: Long, highUs: Long, hint: String = "auto"): DataFrame =
    timeJoin(left, right,
      TimeJoin.keyless(leftTime, rightTime, Band(lowUs, highUs), hint))
}
