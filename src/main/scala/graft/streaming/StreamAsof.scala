package graft.streaming

import graft.plans.{Asof, Band, TimeJoin}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** APPEND-MODE stream-stream as-of with tolerance — the exact twin of
  * the batch operator, composed from Spark's OWN streaming primitives
  * (custom-operator tier (a): compose before you build):
  *
  *   1. a native stream-stream LEFT OUTER time-interval join — the
  *      build row must lie within `tolerance` of the probe time, which
  *      is the condition shape Spark's join state manager derives both
  *      sides' state-eviction watermarks from (state is bounded by
  *      tolerance + watermark delay, never by key lifetime);
  *   2. a watermark-windowed aggregation per PROBE ROW taking the
  *      extremum match — `max(struct(buildTime, buildCols…))` for
  *      backward (lexicographic: latest time, then the remaining build
  *      columns in order as the tie-break), `min` for forward.
  *
  * Spark 4's multiple-stateful-operator support is what makes the
  * chain legal in one query (join state → aggregation state, watermark
  * propagated through).
  *
  * Contract vs the Update-mode typed twin
  * [[EventsStream.asofTolerance]]: that one EMITS EAGERLY (a purchase
  * appears in the trigger that processed it, possibly with a match a
  * later-trigger view would have improved — the documented emit-once
  * asymmetry); this one holds every probe row until the watermark
  * closes its emit window, so a build row arriving late-but-within-
  * watermark RETRO-MATCHES exactly and the output equals the batch
  * ev08e row set — latency traded for exactness, explicitly.
  *
  * Requirements, checked loudly at composition time: both sides
  * streaming and WATERMARKED (the join cannot bound state otherwise),
  * TimestampType time columns (the watermark rides the timestamp;
  * batch's BIGINT-micros option has no streaming equivalent), disjoint
  * column names, `toleranceUs >= 0` (unbounded lookback has no
  * bounded-state formulation). Probe rows must be unique (they are the
  * aggregation's group key — duplicates would collapse; every event
  * table worth streaming has an id column). Null-time probe rows
  * bypass the stateful chain and emit null-extended immediately (SQL
  * left-join semantics; a null event time would otherwise hang in a
  * never-closing window); null-time/null-key build rows never match by
  * join semantics.
  *
  * At 100 TB: both sides shuffle by key once (the join), state is
  * tolerance-bounded per key, the aggregation state is one running
  * extremum per in-flight probe row within the emit-window horizon —
  * nothing scales with history.
  */
object StreamAsof {

  private def hasWatermark(df: DataFrame): Boolean =
    df.queryExecution.logical.exists(_.isInstanceOf[EventTimeWatermark])

  /** The preconditions every stream-stream entry point shares, checked
    * at composition time: both sides streaming (`op` names the entry
    * point, `staticTwin` the stream-static one to use instead),
    * disjoint column names, TimestampType times (the watermark rides
    * the timestamp; batch's BIGINT-micros option has no streaming
    * equivalent) and a watermark on each side (the join state cannot
    * be bounded without one). */
  private def requireStreamStream(left: DataFrame, right: DataFrame,
      join: TimeJoin, op: String, staticTwin: String): Unit = {
    require(left.isStreaming && right.isStreaming,
      s"$op is the STREAM-STREAM operator; for a static build side use " +
        staticTwin)
    val shared = left.columns.toSet.intersect(right.columns.toSet)
    require(shared.isEmpty,
      s"sides must have disjoint column names; shared: $shared")
    require(left.schema(join.leftTime).dataType == TimestampType &&
      right.schema(join.rightTime).dataType == TimestampType,
      "stream-stream time joins need TimestampType time columns on both " +
        "sides (the watermark rides the timestamp)")
    require(hasWatermark(left) && hasWatermark(right),
      "both sides must carry a watermark (df.withWatermark(timeCol, " +
        "delay)) — the join state cannot be bounded without one")
  }

  // The unique-probe-row contract, surfaced LOUDLY once per JVM at
  // composition time (round-15 ADVICE): the as-of extremum aggregates
  // per probe row with every left column as the group key, so two
  // FULLY-identical probe rows collapse to one output row — fewer rows
  // than the batch twin, with nothing at runtime to tell a collapse
  // from a match. No streaming-legal enforcement exists (a uniquifier
  // is non-deterministic and replay-unsafe, a pre-join count is a
  // second stateful aggregation that delays probes past the build
  // state's eviction horizon), so the contract is surfaced at every
  // entry point — this notice, the scaladoc, the SQL docs — and
  // StreamAsofSpec pins the collapse behavior explicitly.
  private val warnedCollapse =
    new java.util.concurrent.atomic.AtomicBoolean(false)
  private def noteProbeRowContract(): Unit =
    if (warnedCollapse.compareAndSet(false, true))
      System.err.println("[graft] append-mode stream-stream as-of " +
        "aggregates per PROBE ROW: fully-duplicate probe rows collapse " +
        "to ONE output row (fewer rows than the batch twin). Keep a " +
        "unique column (an event id) on the probe side — the " +
        "documented contract.")

  /** As-of `left` (streaming probe) to `right` (streaming build):
    * latest (earliest, for forward) build row within `toleranceUs` of
    * each probe row's time, or nulls. `emitWindow` is the aggregation's
    * tumbling emit window over the probe time — a pure latency knob
    * (rows emit when the watermark passes their window's end); any
    * duration is exact. */
  def asofToleranceAppend(left: DataFrame, right: DataFrame,
      keys: Seq[(String, String)], leftTime: String, rightTime: String,
      toleranceUs: Long, direction: String = "backward",
      emitWindow: String = "1 hour"): DataFrame = {
    val asof = Asof(direction, toleranceUs)
    val join = TimeJoin(keys, leftTime, rightTime, asof)
    require(toleranceUs >= 0L,
      "stream-stream as-of requires a tolerance >= 0: unbounded " +
        "lookback has no bounded-state formulation (state would hold " +
        "every build row forever)")
    requireStreamStream(left, right, join, "asofToleranceAppend",
      "PlanBridge.asofJoin (stream-static)")
    appendAsof(left, right, join, asof, emitWindow)
  }

  /** [[asofToleranceAppend]]'s composition, after its checks. */
  private def appendAsof(left: DataFrame, right: DataFrame, join: TimeJoin,
      asof: Asof, emitWindow: String): DataFrame = {
    noteProbeRowContract()
    val (leftTime, rightTime) = (join.leftTime, join.rightTime)
    val (fwd, toleranceUs) = (asof.forward, asof.toleranceUs)

    // null-time probes can never match and would hang in a null emit
    // window: route them around, null-extended (SQL LEFT JOIN shape)
    val lOk = left.filter(col(leftTime).isNotNull)
    val lNull = left.filter(col(leftTime).isNull)

    val tolIv = expr(s"INTERVAL $toleranceUs MICROSECOND")
    val keyEq = join.keys.map { case (lk, rk) => col(lk) === col(rk) }
      .reduce(_ && _)
    val band =
      if (fwd) col(rightTime) >= col(leftTime) &&
        col(rightTime) <= col(leftTime) + tolIv
      else col(rightTime) >= col(leftTime) - tolIv &&
        col(rightTime) <= col(leftTime)
    val joined = lOk.join(right, keyEq && band, "left_outer")

    // extremum match per probe row: struct leads with the build time,
    // remaining build columns follow in order as the tie-break
    val rCols = right.columns.toSeq
    val mStruct = struct(col(rightTime).as("__t") +:
      rCols.filterNot(_ == rightTime).map(col): _*)
    val ext = if (fwd) min(mStruct) else max(mStruct)
    // group on the derived micros, not the raw timestamp — the window
    // already carries the event-time role and Spark allows only one
    // event-time column per aggregation
    val lCols = left.columns.toSeq
    val groupCols = window(col(leftTime), emitWindow) +:
      unix_micros(col(leftTime)).as("__lt_us") +:
      lCols.filterNot(_ == leftTime).map(col)
    val agg = joined.groupBy(groupCols: _*).agg(ext.as("__m"))
    val outCols = lCols.map { c =>
      if (c == leftTime) timestamp_micros(col("__lt_us")).as(c) else col(c)
    } ++ rCols.map { c =>
      val f = if (c == rightTime) "__t" else c
      col("__m").getField(f).as(c)
    }

    agg.select(outCols: _*).unionByName(TimeJoin.nullExtended(lNull, right))
  }

  /** KEYLESS stream-stream as-of with tolerance — "match every probe
    * to the latest (earliest) build row within tolerance, across the
    * whole stream". Spark cannot plan a stream-stream join WITHOUT an
    * equality predicate (the symmetric hash join partitions by key),
    * so the tolerance manufactures one — the batch keyless tier's
    * bucket trick in streaming form: both sides bucket probe/build
    * times by `tolerance` micros, every build row replicates to the
    * TWO buckets whose probes can reach it (its own and the adjacent
    * one — a backward probe in bucket b only matches builds in buckets
    * {b−1, b}), and the join runs on bucket equality plus the exact
    * band condition. Unlike the batch keyless composition there is no
    * carry table — the tolerance bounds reachback to one bucket width,
    * which is exactly what makes the operator streamable at all.
    * Downstream, the same windowed extremum as the keyed operator.
    * State: build rows live in 2 buckets each within the watermark
    * horizon; probes until their emit window closes. Same contracts as
    * [[asofToleranceAppend]] (watermarks, TimestampType, disjoint
    * names, unique probe rows, toleranceUs >= 0 — here also > 0, a
    * zero-width bucket is degenerate). */
  def asofToleranceAppendKeyless(left: DataFrame, right: DataFrame,
      leftTime: String, rightTime: String, toleranceUs: Long,
      direction: String = "backward",
      emitWindow: String = "1 hour"): DataFrame = {
    val asof = Asof(direction, toleranceUs)
    require(toleranceUs > 0L,
      "keyless stream-stream as-of requires a tolerance > 0: the " +
        "tolerance IS the bucket width that manufactures the equality " +
        "key Spark's stream-stream join needs")
    requireStreamStream(left, right,
      TimeJoin.keyless(leftTime, rightTime, asof),
      "asofToleranceAppendKeyless", "AsofKeyless.asofJoinKeyless")
    val fwd = asof.forward
    val w = toleranceUs
    // probe bucket: floor of the physical micros; build rows replicate
    // to the two buckets whose probes can reach them
    val lB = left.withColumn("__graft_sb_l",
      floorDiv(unix_micros(col(leftTime)), w))
    val rB = right.withColumn("__graft_sb_r",
      explode(array(
        floorDiv(unix_micros(col(rightTime)), w),
        if (fwd) floorDiv(unix_micros(col(rightTime)), w) - 1
        else floorDiv(unix_micros(col(rightTime)), w) + 1)))
    appendAsof(lB, rB, TimeJoin(Seq("__graft_sb_l" -> "__graft_sb_r"),
        leftTime, rightTime, asof), asof, emitWindow)
      .drop("__graft_sb_l", "__graft_sb_r")
  }

  /** KEYLESS stream-stream BAND join — every (probe, build) pair with
    * the build time inside `[probeTime + lowUs, probeTime + highUs]`,
    * left-outer, across the whole streams. The same bucket manufacture
    * as [[asofToleranceAppendKeyless]] (Spark refuses stream-stream
    * joins without an equality predicate), but SIMPLER downstream: a
    * band emits every match, so there is no aggregation — just the
    * join, with matches emitted eagerly and unmatched probes when the
    * watermark proves no match can arrive. Bucket width = the band
    * width; each build row replicates to the ≤3 buckets whose probes
    * can reach it, and a (probe, build) pair shares EXACTLY ONE bucket
    * value — the probe's own — so replication can never duplicate a
    * match (the batch keyless band's argument, streamed). */
  def bandAppendKeyless(left: DataFrame, right: DataFrame,
      leftTime: String, rightTime: String,
      lowUs: Long, highUs: Long): DataFrame = {
    requireStreamStream(left, right,
      TimeJoin.keyless(leftTime, rightTime, Band(lowUs, highUs)),
      "bandAppendKeyless", "PlanBridge.bandJoinKeyless")
    val w = math.max(highUs - lowUs, 1L)
    // a build row at t_v serves probes in [t_v - highUs, t_v - lowUs]:
    // replicate it to that range's buckets (span <= 2 widths + 1)
    val lB = left.withColumn("__graft_bb_l",
      floorDiv(unix_micros(col(leftTime)), w))
    val rB = right.withColumn("__graft_bb_r",
      explode(sequence(
        floorDiv(unix_micros(col(rightTime)) - highUs, w),
        floorDiv(unix_micros(col(rightTime)) - lowUs, w))))
    val lOk = lB.filter(col(leftTime).isNotNull)
    val lNull = lB.filter(col(leftTime).isNull)
    val loIv = expr(s"INTERVAL $lowUs MICROSECOND")
    val hiIv = expr(s"INTERVAL $highUs MICROSECOND")
    val cond = col("__graft_bb_l") === col("__graft_bb_r") &&
      col(rightTime) >= col(leftTime) + loIv &&
      col(rightTime) <= col(leftTime) + hiIv
    val outCols = (left.columns.toSeq ++ right.columns).map(col)
    lOk.join(rB, cond, "left_outer").select(outCols: _*)
      .unionByName(TimeJoin.nullExtended(lNull, right).select(outCols: _*))
  }

  // floor division in pure long arithmetic (pmod >= 0 gives floor
  // semantics for negative times; `div` is Spark's IntegralDivide, so
  // the quotient is exact for ANY long micros — the previous
  // double-division formulation was exact only below 2^53 micros
  // (~year 2255) and would have silently misbucketed beyond)
  private def floorDiv(c: Column, d: Long): Column =
    call_function("div", c - pmod(c, lit(d)), lit(d))
}
