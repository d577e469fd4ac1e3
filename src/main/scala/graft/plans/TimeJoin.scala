package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** What a time join matches per probe row: the single nearest build row
  * ([[Asof]]) or every build row inside a time band ([[Band]]). */
sealed trait TimeJoinKind

/** As-of: the build row with equal keys and the greatest build time
  * at-or-before the probe time ("backward"), or the smallest at-or-after
  * ("forward"), pandas merge_asof-style. `toleranceUs >= 0` nulls out a
  * match farther than that many micros from the probe time; negative
  * disables. */
final case class Asof(direction: String = "backward", toleranceUs: Long = -1L)
    extends TimeJoinKind {
  val forward: Boolean = Asof.isForward(direction)
}

object Asof {
  /** Whether `direction` is "forward"; anything but the two directions
    * is refused. The one direction check of the tier — the physical
    * execs, which carry the direction as a plan argument, call it too. */
  def isForward(direction: String): Boolean = {
    require(direction == "backward" || direction == "forward",
      s"asof direction must be backward|forward, got '$direction'")
    direction == "forward"
  }
}

/** Band: every build row with equal keys and a build time within
  * [probeTime + lowUs, probeTime + highUs]. */
final case class Band(lowUs: Long, highUs: Long) extends TimeJoinKind {
  require(lowUs <= highUs, s"band bounds inverted: [$lowUs, $highUs]")
}

/** One time join as every entry point of the as-of/band tier describes
  * it — PlanBridge, the keyless compositions and the
  * stream-stream operators — validated once, here, before any of them
  * touches a plan or starts a job. `keys` pairs probe and build column
  * names; a keyless join (global time correlation) is built with
  * [[TimeJoin.keyless]], every other join needs at least one pair.
  * `hint`: "merge" forces the sorted-merge operator, "broadcast" the
  * broadcast operator (probe side untouched), "auto" picks by the build
  * side's statistics against autoBroadcastJoinThreshold. */
final case class TimeJoin(
    keys: Seq[(String, String)],
    leftTime: String,
    rightTime: String,
    kind: TimeJoinKind,
    hint: String = "auto",
    keyless: Boolean = false) {

  require(TimeJoin.hints(hint),
    s"hint must be one of ${TimeJoin.hints.mkString("/")}, got '$hint'")
  require(keys.isEmpty == keyless,
    if (keyless) "a keyless time join takes no key pairs"
    else "a keyed time join needs at least one key pair")

  def leftKeys: Seq[String] = keys.map(_._1)
  def rightKeys: Seq[String] = keys.map(_._2)
}

object TimeJoin {
  val hints: Set[String] = Set("auto", "merge", "broadcast")

  def keyless(leftTime: String, rightTime: String, kind: TimeJoinKind,
      hint: String = "auto"): TimeJoin =
    TimeJoin(Nil, leftTime, rightTime, kind, hint, keyless = true)

  /** The attribute named `name` in `plan`'s output. */
  def resolve(plan: LogicalPlan, name: String): Attribute =
    plan.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"column '$name' not in [${plan.output.map(_.name).mkString(", ")}]"))

  /** Time-column types the merge/broadcast operators accept: BIGINT
    * micros, or either timestamp type — both are PHYSICALLY long
    * micros in InternalRow, and micros order IS the semantic order
    * (instant order for TIMESTAMP, wall order for TIMESTAMP_NTZ), so
    * `getLong` comparison and micro-offset bounds/tolerances are exact
    * with zero conversion. */
  def timeTypeOk(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt == org.apache.spark.sql.types.LongType ||
      dt == org.apache.spark.sql.types.TimestampType ||
      dt == org.apache.spark.sql.types.TimestampNTZType

  /** `df` with every column of `right` appended as a typed null — the
    * row a probe that cannot match emits (SQL LEFT JOIN shape). The
    * keyless and streaming compositions union it onto their matches. */
  def nullExtended(df: DataFrame, right: DataFrame): DataFrame =
    right.columns.foldLeft(df)((d, c) =>
      d.withColumn(c, org.apache.spark.sql.functions.lit(null)
        .cast(right.schema(c).dataType)))
}

/** The time join as a native Catalyst extension — the SURVEY §2.5
  * custom-operator tier (c): this logical node, [[AsofJoinStrategy]],
  * and the four physical operators, registered through
  * `SparkSessionExtensions` ([[GraftExtensions]]).
  *
  * Semantics: every LEFT (probe) row is kept. An [[Asof]] join matches
  * it to the single RIGHT row with equal keys and the nearest time in
  * its direction — `ASOF LEFT JOIN ... ON l.key = r.key AND l.t >= r.t`
  * in DuckDB terms; a [[Band]] join to every right row inside the band.
  * Unmatched probes keep null right columns.
  *
  * Why a custom operator and not a DataFrame composition: expressed
  * relationally an as-of is an inequality join (a per-key cross product
  * + filter + max — quadratic per key) or the union+last-window trick
  * ev08 uses (one shuffle + one sort over the union), and a band rides
  * an equi-join as a residual filter (a per-key candidate PRODUCT). The
  * native operators have one hash exchange and one sort PER SIDE, then
  * a streaming merge per partition — O(input + output) — and preserve
  * the probe side's partitioning and ordering for downstream operators.
  *
  * `hint` is the PHYSICAL hint, already steered ([[TimeJoinPlan.steerHint]]).
  */
case class TimeJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTime: Attribute,
    rightTime: Attribute,
    kind: TimeJoinKind,
    hint: String) extends BinaryNode {

  // streaming BUILD: a per-microbatch join sees only that batch's build
  // rows, silently dropping every cross-batch match — no bounded-state
  // formulation exists for this operator, so refuse at definition time.
  // (Streaming PROBE is the supported stream-static shape. The check is
  // harmless during microbatch re-planning: by then the streaming leaf
  // has been replaced with that trigger's batch relation.)
  require(!right.isStreaming,
    "time join build side must be static (stream-static enrichment only)")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): TimeJoinPlan =
    copy(left = newLeft, right = newRight)
}

object TimeJoinPlan {
  /** `join` over analyzed `left` (probe) and `right` (build), its column
    * names resolved against their outputs. */
  def apply(left: LogicalPlan, right: LogicalPlan, join: TimeJoin): TimeJoinPlan =
    TimeJoinPlan(left, right,
      join.leftKeys.map(TimeJoin.resolve(left, _)),
      join.rightKeys.map(TimeJoin.resolve(right, _)),
      TimeJoin.resolve(left, join.leftTime), TimeJoin.resolve(right, join.rightTime),
      join.kind, steerHint(left.isStreaming, join.hint))

  /** A streaming PROBE defaults to the broadcast operator (the
    * unbounded side never shuffles); an EXPLICIT merge is honored —
    * a static build too large to broadcast shuffles the microbatch
    * instead, a legal stateless per-trigger exchange. Applied at
    * ANALYSIS time by every as-of/band entry point because that is the
    * only place streaming-ness is visible: per-microbatch replanning
    * replaces the streaming leaf with that trigger's batch relation,
    * so the physical strategy's "auto" case can never see it (and
    * would re-decide from the static build's stats every trigger). */
  def steerHint(probeIsStreaming: Boolean, hint: String): String =
    if (probeIsStreaming && hint != "merge") "broadcast" else hint
}

/** Plans [[TimeJoinPlan]] into the broadcast operator of its kind when
  * the build side is small (hint `broadcast`, or `auto` + statistics
  * under `spark.sql.autoBroadcastJoinThreshold` — the same cost decision
  * Spark's own JoinSelection makes) and the sorted-merge operator
  * otherwise. Every other node is left to the built-in strategies. */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TimeJoinPlan(l, r, lk, rk, lt, rt, kind, hint) =>
      val (left, right) = (planLater(l), planLater(r))
      (kind, broadcast(hint, r)) match {
        case (Asof(dir, tol), true) =>
          BroadcastAsofJoinExec(left, right, lk, rk, lt, rt, dir, tol) :: Nil
        case (Asof(dir, tol), false) =>
          AsofJoinExec(left, right, lk, rk, lt, rt, dir, tol) :: Nil
        case (Band(lo, hi), true) =>
          BroadcastBandJoinExec(left, right, lk, rk, lt, rt, lo, hi) :: Nil
        case (Band(lo, hi), false) =>
          BandJoinExec(left, right, lk, rk, lt, rt, lo, hi) :: Nil
      }
    case _ => Nil
  }

  private def broadcast(hint: String, build: LogicalPlan): Boolean = hint match {
    case "broadcast" => true
    case "merge" => false
    case _ =>
      val thresh = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
      thresh > 0 && build.stats.sizeInBytes <= thresh
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` injection point,
  * the only way the tier reaches a session ([[graft.GraftSession]] sets
  * it). Injects the full as-of/band tier: the `ASOF JOIN` / `BAND JOIN`
  * SQL syntax ([[AsofSqlParser]]), the analyzer lowering
  * ([[ResolveAsofJoin]]), the plain-SQL interval-join auto-rewrite
  * ([[BandJoinAutoRewrite]]), and the planner strategy. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectParser((_, delegate) => new AsofSqlParser(delegate))
    ext.injectResolutionRule(_ => ResolveAsofJoin)
    ext.injectOptimizerRule(_ => BandJoinAutoRewrite)
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)
    // AQE runtime skew split for the merge execs — Spark's own
    // OptimizeSkewedJoin mechanism (probe partitions sliced by mapper
    // ranges from MapOutputStatistics, build partitions replicated per
    // slice), in the same query-stage-prep phase that rule runs in
    ext.injectQueryStagePrepRule(_ =>
      org.apache.spark.sql.graft.OptimizeSkewedGraftJoin())
  }
}
