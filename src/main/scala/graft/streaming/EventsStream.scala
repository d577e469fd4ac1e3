package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the events table.
  *
  * The reference streams records through bounded channels
  * (main.go:57, mapreduce/mapreduce.go:64-66) with no event-time
  * semantics (SURVEY.md §2.6). The Spark-native equivalent is a file
  * source feeding watermarked event-time operators; backpressure is
  * `maxFilesPerTrigger`, archival is `cleanSource=archive` — the same
  * lifecycle as the reference's MoveInputFile but engine-managed.
  *
  * Batch/stream parity: `hourlyStats` computes exactly ev01's grouping
  * and `sessionize` exactly ev02's 30-minute-gap sessions, so the
  * DuckDB-verified batch results double as streaming oracles (asserted
  * in EventsStreamSpec).
  */
object EventsStream {

  /** Streaming needs an explicit schema; the events parquet's ts physical
    * type has drifted across testdata generations (TIMESTAMP(NANOS) read
    * as long via nanosAsLong, vs TIMESTAMP(MICROS) read as TIMESTAMP_NTZ),
    * so the ts field is parameterized and normalized after the read,
    * mirroring Tables.load. */
  private def rawSchema(tsType: org.apache.spark.sql.types.DataType) = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionState(startUs: Long, lastUs: Long, n: Long)

  final case class SessionOut(user_id: Long, session_seq: Long, n_events: Long,
      start_us: Long, duration_us: Long, open: Boolean)

  /** Streaming read of an events parquet directory.
    *
    * The one-time footer probe assumes a HOMOGENEOUS directory: every
    * file holds the same events-parquet generation (all NANOS-as-long
    * or all MICROS-NTZ), which is how the testdata generator writes it
    * — a directory accumulated ACROSS a regeneration would need a
    * per-file normalization this reader does not attempt. If the
    * directory is still empty when the stream starts (the class-doc
    * start-before-files-arrive pattern), the probe cannot infer and we
    * fall back to the current-generation MICROS-NTZ schema. */
  def readEvents(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 10): DataFrame = {
    // One batch footer read (metadata-only) tells us which generation of
    // the events parquet this directory holds; the stream then declares
    // the matching schema and normalizes ts exactly like Tables.load.
    val tsType =
      try spark.read.parquet(dir).schema("ts").dataType
      catch { case _: org.apache.spark.sql.AnalysisException =>
        TimestampNTZType // empty dir: current-generation default
      }
    val raw = spark.readStream
      .schema(rawSchema(tsType))
      .option("maxFilesPerTrigger", maxFilesPerTrigger) // bounded-buffer analog
      .parquet(dir)
    tsType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Watermarked tumbling-window aggregation (streaming ev01). */
  def hourlyStats(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Watermarked HOPPING-window aggregation (streaming ev11): 1-hour
    * windows sliding every 15 minutes — each event expands into 4
    * windows map-side, state is per (window, type) group. Identical
    * plan shape to the batch ev11, so the oracle-checked batch result
    * is the streaming oracle. */
  def hoppingStats(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  final case class AsofOut(event_id: Long, user_id: Long, us: Long,
      matched_us: Option[Long], matched_event_id: Option[Long])

  /** Streaming as-of join (streaming twin of batch ev08): each purchase
    * matched to the user's latest view at-or-before it. State per user
    * is O(1) — just the latest view — which is what makes asof the
    * streaming-friendly enrichment join: unlike an interval join, no
    * buffer of past events is retained. Within a trigger, events are
    * processed in event-time order (views before purchases on ties,
    * matching DuckDB ASOF `ON c.us >= v.us`); a view arriving in a
    * later trigger cannot retro-match an earlier purchase, the standard
    * monotone-source asof semantics. */
  def asofJoin(spark: SparkSession, events: DataFrame): Dataset[AsofOut] = {
    import spark.implicits._
    events
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[Event], state: GroupState[(Long, Long)]) =>
          def micros(e: Event): Long =
            e.ts.getTime / 1000 * 1000000 + (e.ts.getNanos / 1000) % 1000000
          var latest: Option[(Long, Long)] = state.getOption // (us, event_id)
          val out = scala.collection.mutable.ArrayBuffer[AsofOut]()
          val sorted = it.toArray.sortBy(e =>
            (micros(e), if (e.event_type == "view") 0 else 1, e.event_id))
          sorted.foreach { e =>
            val us = micros(e)
            if (e.event_type == "view") {
              // same-us views keep the max event_id, matching the batch
              // side's pre-aggregation
              if (latest.forall(l => l._1 < us || (l._1 == us && l._2 < e.event_id)))
                latest = Some((us, e.event_id))
            } else {
              out += AsofOut(e.event_id, user, us, latest.map(_._1), latest.map(_._2))
            }
          }
          latest.foreach(state.update)
          out.iterator
      }
  }

  /** Tolerance-bounded STREAM-STREAM as-of join (streaming twin of the
    * oracle-gated batch ev08e): each purchase matched to its user's
    * LATEST view at-or-before it, nulled when the gap exceeds
    * `toleranceUs`. This is the as-of a Flink interval-join user
    * reaches for, and the tolerance is what makes it streamable: the
    * state is BAND-SHAPED — the view buffer holds exactly the views
    * still inside the tolerance reach of the latest
    * watermark-admissible event, the [[bandCount]] eviction discipline
    * with an at-or-before ARGMAX instead of a count. Contrast
    * [[asofJoin]] (O(1) state, but monotone-source semantics: a late
    * purchase can silently match a too-new view and a late view is
    * dropped): here the view BUFFER holds the full watermark-admitted
    * window, so a purchase arriving late-but-within-watermark still
    * finds its exact batch match, and a late view serves every
    * purchase processed at-or-after it. The one asymmetry is
    * [[bandCount]]'s same Update-mode emit-once contract: a purchase
    * already emitted (necessarily with a null or older match) is never
    * retro-emitted when an even later trigger delivers a view batch
    * would have matched it to — removing that would mean holding every
    * purchase until the watermark passes it (append-mode latency)
    * instead of emitting eagerly. Same-us views collapse to
    * the max event_id (the batch side's pre-aggregation); within a
    * trigger, views process before purchases on time ties (the
    * inclusive `p.us >= v.us`). */
  def asofTolerance(spark: SparkSession, events: DataFrame,
      toleranceUs: Long = 1800L * 1000000L,
      watermarkDelay: String = "1 hour"): Dataset[AsofOut] = {
    import spark.implicits._
    require(toleranceUs >= 0L, s"tolerance must be >= 0, got $toleranceUs")
    events
      .withWatermark("ts", watermarkDelay)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
          GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[Event], state: GroupState[Seq[(Long, Long)]]) =>
          def micros(e: Event): Long =
            e.ts.getTime / 1000 * 1000000 + (e.ts.getNanos / 1000) % 1000000
          if (state.hasTimedOut) {
            // idle past watermark + tolerance: nothing buffered can
            // ever match a future in-watermark purchase
            state.remove()
            Iterator.empty
          } else {
            // ascending (v_us, v_event_id) view buffer, us-unique —
            // the bandCount deque with a per-us max-event_id collapse
            val buf = new java.util.ArrayDeque[(Long, Long)]()
            state.getOption.foreach(_.foreach(buf.addLast))
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            var maxUs =
              if (buf.isEmpty) Long.MinValue else buf.peekLast()._1
            val out = scala.collection.mutable.ArrayBuffer[AsofOut]()
            val sorted = it.toArray.sortBy(e =>
              (micros(e), if (e.event_type == "view") 0 else 1, e.event_id))
            sorted.foreach { e =>
              val us = micros(e)
              if (e.event_type == "view") {
                // insert keeping the buffer ascending: a view arriving
                // late-but-within-watermark lands mid-buffer via a
                // bounded tail stack (views newer than it pop off and
                // push back — O(size of the newer tail), usually 0)
                val tail = new java.util.ArrayDeque[(Long, Long)]()
                while (!buf.isEmpty && buf.peekLast()._1 > us)
                  tail.addFirst(buf.removeLast())
                if (!buf.isEmpty && buf.peekLast()._1 == us) {
                  if (buf.peekLast()._2 < e.event_id) {
                    buf.removeLast(); buf.addLast((us, e.event_id))
                  }
                } else buf.addLast((us, e.event_id))
                while (!tail.isEmpty) buf.addLast(tail.removeFirst())
              } else {
                // latest view at-or-before: first tail-ward hit
                var m: Option[(Long, Long)] = None
                val itr = buf.descendingIterator()
                while (m.isEmpty && itr.hasNext) {
                  val v = itr.next()
                  if (v._1 <= us) m = Some(v)
                }
                val ok = m.filter(v => us - v._1 <= toleranceUs)
                out += AsofOut(e.event_id, user, us, ok.map(_._1), ok.map(_._2))
              }
              if (us > maxUs) maxUs = us
              // bandCount's eviction verbatim with lowUs = -tolerance:
              // drop views below the tolerance reach of the latest
              // event the WATERMARK still admits — never the per-user
              // max alone, so a late purchase keeps its match window
              val horizonUs = math.min(maxUs, wmUs)
              while (!buf.isEmpty && buf.peekFirst()._1 < horizonUs - toleranceUs)
                buf.removeFirst()
            }
            state.update(
              scala.jdk.CollectionConverters.IteratorHasAsScala(
                buf.iterator()).asScala.toSeq)
            if (maxUs != Long.MinValue) {
              val horizonMs = maxUs / 1000 + toleranceUs / 1000 + 1000
              state.setTimeoutTimestamp(
                math.max(horizonMs, state.getCurrentWatermarkMs() + 1000))
            }
            out.iterator
          }
      }
  }

  final case class BandCount(event_id: Long, user_id: Long, us: Long,
      n_prior_purchases: Long)

  /** Streaming BANDED enrichment join (streaming twin of the
    * oracle-gated batch ev07/ev07b): each error counts its user's
    * purchases within the trailing band `[us + lowUs, us]`. State per
    * user is the BAND OCCUPANCY — exactly the purchases still inside
    * the band reach of the latest event seen, the same bounded-state
    * argument as the batch BandJoinExec deque — never the key's full
    * history, which is what makes a band join streamable at 100 TB.
    *
    * WATERMARKED: the input gets an event-time watermark and the state
    * uses EventTimeTimeout — a user idle past the watermark plus the
    * band width has provably nothing left to match, so their buffer is
    * dropped entirely (the difference between bounded state and state
    * that grows with the user population's lifetime). Eviction honors
    * the watermark, not the per-user max event time: purchases drop
    * only below `min(maxSeen, watermark) + lowUs`, so an error arriving
    * late-but-within-watermark in a later trigger still finds its full
    * band (the watermark bounds BOTH state and correctness). Within a
    * trigger events process in event-time order (purchases before
    * errors on ties — the band's inclusive `pts <= ets`); an error
    * already emitted is never retroactively recounted when a later
    * purchase arrives (Update-mode emit-once). */
  def bandCount(spark: SparkSession, events: DataFrame,
      lowUs: Long = -30L * 60 * 1000000,
      watermarkDelay: String = "1 hour"): Dataset[BandCount] = {
    import spark.implicits._
    require(lowUs <= 0L, s"trailing band only: lowUs $lowUs must be <= 0")
    events
      .withWatermark("ts", watermarkDelay)
      .filter(col("event_type").isin("purchase", "error"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
          GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[Event], state: GroupState[Seq[(Long, Long)]]) =>
          def micros(e: Event): Long =
            e.ts.getTime / 1000 * 1000000 + (e.ts.getNanos / 1000) % 1000000
          if (state.hasTimedOut) {
            // idle past watermark + band: nothing buffered can ever
            // match a future in-watermark event
            state.remove()
            Iterator.empty
          } else {
            // ascending (us, event_id) purchase buffer — a mutable
            // deque inside the trigger (O(1) append + evict, the
            // BandScanner shape); an immutable Seq here would make a
            // hot user's trigger quadratic in its purchase count
            val buf = new java.util.ArrayDeque[(Long, Long)]()
            state.getOption.foreach(_.foreach(buf.addLast))
            // watermark at trigger start, in micros; 0 before the first
            // watermark advance, which makes the eviction horizon
            // negative — nothing evicts until a watermark exists
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            var maxUs =
              if (buf.isEmpty) Long.MinValue else buf.peekLast()._1
            val out = scala.collection.mutable.ArrayBuffer[BandCount]()
            val sorted = it.toArray.sortBy(e =>
              (micros(e), if (e.event_type == "purchase") 0 else 1, e.event_id))
            sorted.foreach { e =>
              val us = micros(e)
              if (e.event_type == "purchase") buf.addLast((us, e.event_id))
              else {
                var n = 0L
                val itr = buf.iterator()
                while (itr.hasNext) {
                  val p = itr.next()
                  if (p._1 >= us + lowUs && p._1 <= us) n += 1
                }
                out += BandCount(e.event_id, user, us, n)
              }
              if (us > maxUs) maxUs = us
              // evict below the band reach of the latest event the
              // WATERMARK still admits — not the per-user max seen. An
              // error arriving late-but-within-watermark in a later
              // trigger may carry us < maxUs; evicting at maxUs + lowUs
              // would have already dropped purchases its band needs.
              // min(maxUs, watermark) honors the declared out-of-order
              // tolerance while keeping state bounded by it.
              val horizonUs = math.min(maxUs, wmUs)
              while (!buf.isEmpty && buf.peekFirst()._1 < horizonUs + lowUs)
                buf.removeFirst()
            }
            state.update(
              scala.jdk.CollectionConverters.IteratorHasAsScala(
                buf.iterator()).asScala.toSeq)
            if (maxUs != Long.MinValue) {
              // timeout when the watermark passes the band reach; must
              // stay above the current watermark or Spark rejects it
              val horizonMs = maxUs / 1000 + (-lowUs) / 1000 + 1000
              state.setTimeoutTimestamp(
                math.max(horizonMs, state.getCurrentWatermarkMs() + 1000))
            }
            out.iterator
          }
      }
  }

  final case class FunnelOut(user_id: Long, v_us: Option[Long],
      c_us: Option[Long], p_us: Option[Long])

  /** Streaming conversion funnel (streaming twin of batch ev09): per
    * user, first view → first click at-or-after it → first purchase
    * at-or-after that. State is O(1) per user — three microsecond
    * stamps — and only ever moves FORWARD through the funnel, so this
    * is the bounded-state shape a 100 TB event stream can actually
    * hold (no event buffer, no replay). Same monotone-source caveat as
    * [[asofJoin]]: an earlier-timestamped event arriving in a later
    * trigger cannot rewrite a stage already set. Emits the updated
    * stage snapshot per user per trigger (Update mode); the latest row
    * per user is the funnel position. */
  def funnel(spark: SparkSession, events: DataFrame): Dataset[FunnelOut] = {
    import spark.implicits._
    events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[Event], state: GroupState[(Long, Long, Long)]) =>
          def micros(e: Event): Long =
            e.ts.getTime / 1000 * 1000000 + (e.ts.getNanos / 1000) % 1000000
          val None_ = -1L
          var (v, c, p) = state.getOption.getOrElse((None_, None_, None_))
          var changed = false
          it.toArray.sortBy(e => (micros(e), e.event_id)).foreach { e =>
            val us = micros(e)
            e.event_type match {
              case "view" if v == None_ =>
                v = us; changed = true
              case "click" if v != None_ && c == None_ && us >= v =>
                c = us; changed = true
              case "purchase" if c != None_ && p == None_ && us >= c =>
                p = us; changed = true
              case _ =>
            }
          }
          if (changed) {
            state.update((v, c, p))
            Iterator.single(FunnelOut(user,
              Some(v).filter(_ != None_),
              Some(c).filter(_ != None_),
              Some(p).filter(_ != None_)))
          } else Iterator.empty
      }
  }

  /** Stateful 30-min-gap sessionization via flatMapGroupsWithState
    * (streaming ev02). State per user is O(1): (start, last, count).
    * Emits every affected session per trigger (Update mode); closed
    * sessions leave state. */
  def sessionize(spark: SparkSession, events: DataFrame): Dataset[SessionOut] = {
    import spark.implicits._
    val gapUs = 1800L * 1000000L
    events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[Event], state: GroupState[(Long, List[SessionState])]) =>
          val (seq0, open0) = state.getOption.getOrElse((0L, Nil))
          var seq = seq0
          var open: Option[SessionState] = open0.headOption
          val out = scala.collection.mutable.ArrayBuffer[SessionOut]()
          // sort by the SAME microsecond value the session arithmetic
          // uses — a millisecond sort key would process same-ms events
          // out of time order and disagree with the batch ev02 oracle
          def micros(e: Event): Long =
            e.ts.getTime / 1000 * 1000000 + (e.ts.getNanos / 1000) % 1000000
          val sorted = it.toArray.sortBy(e => (micros(e), e.event_id))
          sorted.foreach { e =>
            val us = micros(e)
            open match {
              case Some(s) if us - s.lastUs <= gapUs =>
                open = Some(s.copy(lastUs = us, n = s.n + 1))
              case Some(s) =>
                out += SessionOut(user, seq, s.n, s.startUs, s.lastUs - s.startUs, open = false)
                seq += 1
                open = Some(SessionState(us, us, 1))
              case None =>
                seq += 1
                open = Some(SessionState(us, us, 1))
            }
          }
          open.foreach { s =>
            out += SessionOut(user, seq, s.n, s.startUs, s.lastUs - s.startUs, open = true)
          }
          state.update((seq, open.toList))
          out.iterator
      }
  }
}
