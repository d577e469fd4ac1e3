package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Whole-operator as-of join as a native Catalyst extension — the
  * SURVEY §2.5 custom-operator tier (c): a logical node, a planner
  * strategy, and a physical merge operator, registered through
  * `SparkSessionExtensions` (or at runtime via
  * [[org.apache.spark.sql.graft.PlanBridge.ensureStrategy]]).
  *
  * Semantics: every LEFT (probe) row is matched to the single RIGHT
  * row with equal keys and the greatest time at-or-before the probe's
  * time — `ASOF LEFT JOIN ... ON l.key = r.key AND l.t >= r.t` in
  * DuckDB terms. Unmatched probes keep null right columns.
  *
  * Why a custom operator and not a DataFrame composition: expressed
  * relationally this is an inequality join (a per-key cross product +
  * filter + max — quadratic per key) or the union+last-window trick
  * ev08 uses (one shuffle + one sort over the union). The native
  * operator has the union-trick's exchange profile — one hash
  * exchange and one sort PER SIDE, then a zero-allocation streaming
  * merge per partition — but never materializes the union, carries no
  * null-struct side-channel columns through the sort, and preserves
  * the probe side's partitioning and ordering for downstream
  * operators (the window trick destroys both by re-keying the union).
  */
case class AsofJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTime: Attribute,
    rightTime: Attribute,
    hint: String = "auto",
    direction: String = "backward",
    toleranceUs: Long = -1L) extends BinaryNode {

  require(AsofJoinPlan.hints(hint), s"asof hint must be one of " +
    s"${AsofJoinPlan.hints.mkString("/")}, got '$hint'")
  require(AsofJoinPlan.directions(direction), s"asof direction must be one " +
    s"of ${AsofJoinPlan.directions.mkString("/")}, got '$direction'")
  // streaming BUILD: a per-microbatch join sees only that batch's build
  // rows, silently dropping every cross-batch match — no bounded-state
  // formulation exists for this operator, so refuse at definition time.
  // (Streaming PROBE is the supported stream-static shape. The check is
  // harmless during microbatch re-planning: by then the streaming leaf
  // has been replaced with that trigger's batch relation.)
  require(!right.isStreaming,
    "as-of build side must be static (stream-static enrichment only)")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsofJoinPlan {
  val hints: Set[String] = Set("auto", "merge", "broadcast")
  val directions: Set[String] = Set("backward", "forward")

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
}

/** Plans [[AsofJoinPlan]] into [[BroadcastAsofJoinExec]] when the
  * build side is small (hint `broadcast`, or `auto` + statistics under
  * `spark.sql.autoBroadcastJoinThreshold` — the same cost decision
  * Spark's own JoinSelection makes) and the sorted-merge
  * [[AsofJoinExec]] otherwise. Every other node is left to the
  * built-in strategies. */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(l, r, lk, rk, lt, rt, hint, dir, tol) =>
      if (broadcast(hint, r))
        BroadcastAsofJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, dir, tol) :: Nil
      else
        AsofJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, dir, tol) :: Nil
    case BandJoinPlan(l, r, lk, rk, lt, rt, lo, hi, hint) =>
      if (broadcast(hint, r))
        BroadcastBandJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, lo, hi) :: Nil
      else
        BandJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, lo, hi) :: Nil
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

/** `spark.sql.extensions=graft.plans.GraftExtensions` injection point
  * for sessions built from config; existing sessions use
  * `PlanBridge.ensureStrategy` (same strategy object, idempotent).
  * Injects the full as-of/band tier: the `ASOF JOIN` / `BAND JOIN`
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
