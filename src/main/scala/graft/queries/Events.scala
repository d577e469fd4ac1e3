package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Num._

/** Event-stream analytics over the `events` table (SURVEY.md §2.6).
  *
  * These are the BATCH versions; the same logic runs as Structured
  * Streaming in [[graft.streaming.EventsStream]] (watermark + windowed
  * agg + mapGroupsWithState sessionization). Batch and streaming share
  * semantics, so the DuckDB oracle validates both.
  *
  * Scale notes: all aggregations key on (time-bucket, type) or user_id —
  * high-cardinality, evenly distributed → no skew; windows partition by
  * user_id so state is bounded per key.
  */
object Events {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Tumbling 1-hour windows per event type.
    "ev01_hourly_stats" -> { (s, d) =>
      Tables.load(s, d, "events")
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum6(col("value")).as("sum_value"))
    },

    // Forward-fill (LOCF — last observation carried forward): error
    // events report no usable value, so each user's series masks them
    // to null and carries the last valid reading forward in event-time
    // order. One shuffle on user_id; per-row state inside the running
    // frame is O(1). The canonical sensor/telemetry gap-fill op.
    "ev14_forward_fill" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.load(s, d, "events")
        .withColumn("v",
          when(col("event_type") === "error", lit(null)).otherwise(col("value")))
        .withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
        .filter(col("user_id") < 50)
        .select(col("event_id"), col("user_id"), col("v"), col("filled"))
    },

    // DAU/WAU engagement: daily active users and 7-day-trailing weekly
    // actives per day. COUNT(DISTINCT) over a sliding range has no
    // scalable direct form — the shape that works at 100 TB is
    // expand-dedup-count: reduce to distinct (day, user) first (one
    // shuffle on a tiny key), then explode each active day into the ≤7
    // trailing windows it contributes to and dedup again. The event
    // table itself is touched once.
    "ev13_dau_wau" -> { (s, d) =>
      val du = Tables.load(s, d, "events")
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val dau = du.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
      val wau = du
        .select(explode(sequence(col("day"), date_add(col("day"), 6))).as("day"),
          col("user_id"))
        .distinct()
        .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, "day")
        .select(col("day"), col("dau"), col("wau"),
          (col("dau").cast("double") / col("wau")).as("stickiness"))
    },

    // Z-score anomaly detection per event type. Mean and variance are
    // derived from EXACT decimal moment sums (Σv, Σv² in DECIMAL —
    // order-independent, so the shuffle can't perturb them), then the
    // z arithmetic runs in double with an expression tree the oracle
    // mirrors token-for-token — the "floating point" z values are
    // bit-identical across engines. Shape: one tiny per-type aggregate
    // broadcast back onto a map-only filter; event rows never shuffle.
    "ev12_zscore_outliers" -> { (s, d) =>
      val ev = Tables.load(s, d, "events")
      val v6 = col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6))
      val stats = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(v6).cast("double").as("s1"),
          sum(v6 * v6).cast("double").as("s2"))
        .select(col("event_type"), (col("s1") / col("n")).as("mean"),
          sqrt((col("s2") - col("s1") * col("s1") / col("n")) /
            nullif(col("n") - 1, lit(0L))).as("sd"))
      // Σv² at scale 12 overflows double's 2^53 exact range, so the
      // DECIMAL→DOUBLE cast can differ in the last bit across engines
      // (the Num.scala pitfall); z is therefore reported at 4 dp with
      // membership decided on the rounded value — the tx12 pattern.
      // sd = 0 (single-row or constant group) leaves z undefined:
      // nullif keeps the divide lazy (ANSI mode would otherwise abort
      // the whole query on a degenerate group) and the abs(null) > 3
      // filter then drops the row — mirrored in the oracle
      ev.join(broadcast(stats), "event_type")
        .withColumn("z",
          round((col("value") - col("mean")) / nullif(col("sd"), lit(0.0)), 4))
        .filter(abs(col("z")) > lit(3.0))
        .select(col("event_id"), col("event_type"), col("z"))
    },

    // Hopping (sliding) event-time windows: 1-hour windows every 15
    // minutes via Spark's native window() — each event lands in exactly
    // size/slide = 4 windows, expanded at the scan (no self-join). This
    // is the batch twin of the streaming sliding-window aggregate; the
    // oracle replays the epoch-aligned window arithmetic in integer
    // microseconds.
    "ev11_hopping_window" -> { (s, d) =>
      Tables.load(s, d, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum6(col("value")).as("sum_value"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("event_type"), col("n_events"), col("sum_value"))
    },

    // Gap-based sessionization (30-min inactivity) via window functions:
    // lag → new-session flag → running sum = session id → per-session agg.
    "ev02_sessionize" -> { (s, d) =>
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val ev = Tables.load(s, d, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("us"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_us").isNull || col("us") - col("prev_us") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("session_seq",
          sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      ev.groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"),
          min(col("us")).as("start_us"),
          (max(col("us")) - min(col("us"))).as("duration_us"))
    },

    // JSON extraction from the props column (SURVEY.md §2.3 "permissive
    // parse": get_json_object tolerates malformed JSON → null).
    "ev03_json_extract" -> { (s, d) =>
      Tables.load(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
    },

    // Native session_window operator (same 30-min-gap semantics as the
    // hand-built ev02 — Spark's dedicated session machinery; the oracle
    // reconstructs session bounds with the window-function formulation,
    // so ev02 and ev06 cross-validate two implementations).
    "ev06_session_window" -> { (s, d) =>
      Tables.load(s, d, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n_events"))
    },

    // Interval (range) join: for each error event, purchases by the same
    // user in the preceding 30 minutes. Equality on user keeps this a
    // hash join with a range residual — the scalable interval-join shape
    // (pure range joins need bucketing; see stream-stream twin in
    // EventsStreamSpec).
    "ev07_interval_join" -> { (s, d) =>
      val ev = Tables.load(s, d, "events")
      val e = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id").as("eu"), col("ts").as("ets"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("pts"))
      e.join(p, col("eu") === col("pu") &&
          col("pts") <= col("ets") &&
          col("pts") >= col("ets") - expr("INTERVAL 30 MINUTES"), "left_outer")
        .groupBy(col("event_id"))
        .agg(count(col("pu")).as("n_prior_purchases"))
    },

    // ev07's semantics through the NATIVE band operator (graft.plans:
    // TimeJoinPlan(Band) → AsofJoinStrategy → BandJoinExec — AsofJoinExec
    // generalized to a sliding band of build rows). ev07's equi-join +
    // range residual executes as a per-user candidate product (every
    // error × every purchase of that user, filtered after), which is
    // quadratic in any one key's volume; the band merge is O(input +
    // output) with state bounded by the 30-minute band's occupancy.
    // Same oracle as ev07; the asof scale gate carries the 60M-event
    // band legs.
    "ev07b_interval_native" -> { (s, d) =>
      val ev = Tables.load(s, d, "events").withColumn("us", unix_micros(col("ts")))
      // Null hygiene at the call site: the raw PlanBridge path keeps the
      // operator's natural ordering (null keys group, null time reads 0),
      // which would diverge from the oracle's LEFT JOIN if the dataset
      // ever grew null user_ids/timestamps. SQL semantics: null
      // keys/times never match — so null build rows are dropped (exact),
      // and null probe rows bypass the operator and land with count 0,
      // exactly the LEFT JOIN's unmatched shape.
      val e = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id").as("eu"), col("us").as("eus"))
      val eOk = e.filter(col("eu").isNotNull && col("eus").isNotNull)
      val eNull = e.filter(col("eu").isNull || col("eus").isNull)
      val p = ev.filter(col("event_type") === "purchase" &&
          col("user_id").isNotNull && col("us").isNotNull)
        .select(col("user_id").as("pu"), col("us").as("pus"))
      org.apache.spark.sql.graft.PlanBridge
        .bandJoin(eOk, p, Seq("eu" -> "pu"), "eus", "pus",
          lowUs = -30L * 60 * 1000000, highUs = 0L, hint = "merge")
        .groupBy(col("event_id"))
        .agg(count(col("pu")).as("n_prior_purchases"))
        .unionByName(eNull.select(col("event_id"),
          lit(0L).as("n_prior_purchases")))
    },

    // ev07's semantics through the BAND JOIN SQL SURFACE: the graft
    // clause (`BAND LEFT JOIN ... ON k = k AND t BETWEEN t-lo AND t`)
    // parsed by AsofSqlParser, classified by BandConds, lowered with
    // the null hygiene a stock join's semantics demand — while the
    // DuckDB oracle answers the same question as a plain-SQL range
    // join. Cross-engine, cross-syntax, one hash.
    "ev07c_band_sql" -> { (s, d) =>
      val ev = Tables.load(s, d, "events").withColumn("us", unix_micros(col("ts")))
      val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id").as("eu"), col("us").as("eus"))
        .createOrReplaceTempView(s"graft_band_errors_$tag")
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("us").as("pus"))
        .createOrReplaceTempView(s"graft_band_purch_$tag")
      val out = s.sql(
        s"""SELECT event_id, COUNT(pu) AS n_prior_purchases
           |FROM graft_band_errors_$tag e BAND LEFT JOIN graft_band_purch_$tag p
           |ON e.eu = p.pu AND p.pus BETWEEN e.eus - 1800000000 AND e.eus
           |GROUP BY event_id""".stripMargin)
      // sql() analyzes eagerly — the views are resolved into the plan, so
      // dropping them immediately keeps the caller's session catalog
      // from accumulating a pair of entries per invocation.
      s.catalog.dropTempView(s"graft_band_errors_$tag")
      s.catalog.dropTempView(s"graft_band_purch_$tag")
      out
    },

    // And with NO graft syntax at all: a STOCK plain-SQL LEFT JOIN
    // whose ON is an equality + a BETWEEN time band, silently rewritten
    // to a band TimeJoinPlan by the injected BandJoinAutoRewrite optimizer
    // rule (how DuckDB treats the same text with its IEJoin). The user
    // writes standard SQL; the engine picks the O(input + output)
    // operator. BandSqlSpec pins that the rewrite actually fires on
    // this exact query shape; the driver gate pins the rows.
    "ev07d_band_auto" -> { (s, d) =>
      val ev = Tables.load(s, d, "events").withColumn("us", unix_micros(col("ts")))
      val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id").as("eu"), col("us").as("eus"))
        .createOrReplaceTempView(s"graft_auto_errors_$tag")
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("us").as("pus"))
        .createOrReplaceTempView(s"graft_auto_purch_$tag")
      val out = s.sql(
        s"""SELECT event_id, COUNT(pu) AS n_prior_purchases
           |FROM graft_auto_errors_$tag e LEFT JOIN graft_auto_purch_$tag p
           |ON e.eu = p.pu AND p.pus BETWEEN e.eus - 1800000000 AND e.eus
           |GROUP BY event_id""".stripMargin)
      s.catalog.dropTempView(s"graft_auto_errors_$tag")
      s.catalog.dropTempView(s"graft_auto_purch_$tag")
      out
    },

    // RIGHT OUTER through the auto-rewrite: the same stock plain-SQL
    // band as ev07d written with the sides flipped — purchases RIGHT
    // JOIN errors. The band operator preserves its PROBE side, so the
    // optimizer rule claims a right-outer band by SIDE-SWAPPING into
    // the left-outer lowering (the band condition is symmetric) and
    // restoring the original column order with a Project. Same
    // O(input + output) merge, same null hygiene; BandSqlSpec pins
    // that the rewrite fires on this exact shape.
    "ev07f_band_right_outer" -> { (s, d) =>
      val ev = Tables.load(s, d, "events").withColumn("us", unix_micros(col("ts")))
      val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id").as("eu"), col("us").as("eus"))
        .createOrReplaceTempView(s"graft_ro_errors_$tag")
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("us").as("pus"))
        .createOrReplaceTempView(s"graft_ro_purch_$tag")
      val out = s.sql(
        s"""SELECT event_id, COUNT(pu) AS n_prior_purchases
           |FROM graft_ro_purch_$tag p RIGHT JOIN graft_ro_errors_$tag e
           |ON e.eu = p.pu AND p.pus BETWEEN e.eus - 1800000000 AND e.eus
           |GROUP BY event_id""".stripMargin)
      s.catalog.dropTempView(s"graft_ro_errors_$tag")
      s.catalog.dropTempView(s"graft_ro_purch_$tag")
      out
    },

    // The KEYLESS range join — global time-window correlation with NO
    // equi-key (how many purchases by ANYONE in the 5 minutes before
    // each error): the family member round 11 deliberately refused,
    // now served by BandConds.lowerBandKeyless's range bucketization
    // (probes floor-bucket by the band width, build rows replicate to
    // their ≤3 reachable buckets, the keyed band merge runs on the
    // bucket). Both sides shuffle by time range — the IEJoin shape —
    // where the stock Spark plan is a nested-loop cartesian and a
    // synthesized constant key would serialize one partition. DuckDB
    // answers the same question with its native IEJoin.
    "ev07e_band_keyless" -> { (s, d) =>
      val ev = Tables.load(s, d, "events").withColumn("us", unix_micros(col("ts")))
      val e = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("us").as("eus"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("us").as("pus"), col("event_id").as("p_id"))
      org.apache.spark.sql.graft.PlanBridge
        .bandJoinKeyless(e, p, "eus", "pus",
          lowUs = -5L * 60 * 1000000, highUs = 0L)
        .groupBy(col("event_id"))
        .agg(count(col("p_id")).as("n_prior_purchases"))
    },

    // AS-OF join: each purchase matched to the user's most recent view
    // at-or-before it. Spark has no asof operator; rather than an
    // inequality join (which Catalyst executes as a per-user cross
    // product + filter), both sides union into ONE stream and a running
    // `last(ignoreNulls)` window carries the latest view forward — a
    // single shuffle on user_id and a single sort, the merge-join shape
    // an asof join compiles to in engines that have it natively. At
    // equal timestamps the view sorts first (side 0), so ties match
    // like DuckDB's `ON c.us >= v.us`. Views pre-aggregate to one row
    // per (user, us) — max event_id — making ties deterministic.
    "ev08_asof_join" -> { (s, d) =>
      val ev = Tables.load(s, d, "events").withColumn("us", unix_micros(col("ts")))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("us"))
        .agg(max(col("event_id")).as("v_event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us"), col("event_id"))
      val tagged = views
        .select(col("user_id"), col("us"), lit(0).as("side"),
          lit(null).cast("long").as("event_id"),
          struct(col("us").as("v_us"), col("v_event_id")).as("v"))
        .unionByName(purchases
          .select(col("user_id"), col("us"), lit(1).as("side"), col("event_id"),
            lit(null).cast("struct<v_us:bigint,v_event_id:bigint>").as("v")))
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("side"))
        .rowsBetween(Window.unboundedPreceding, 0)
      tagged.withColumn("last_v", last(col("v"), ignoreNulls = true).over(w))
        .filter(col("side") === 1)
        .select(col("event_id"), col("user_id"), col("us"),
          col("last_v.v_us").as("matched_us"),
          col("last_v.v_event_id").as("matched_event_id"))
    },

    // ev08's semantics through the NATIVE as-of operator (graft.plans:
    // TimeJoinPlan(Asof) → AsofJoinStrategy → AsofJoinExec, the SURVEY §2.5
    // custom-operator tier (c)): same oracle, same one-exchange-one-
    // sort-per-side profile, but the merge is a streaming O(1)-state
    // pass instead of a window over the union, and the purchase side's
    // partitioning/ordering survive for downstream per-user operators.
    // Both sides alias their columns apart — the self-join dedup the
    // analyzer would otherwise do for us.
    "ev08b_asof_native" -> { (s, d) =>
      val ev = Tables.load(s, d, "events").withColumn("us", unix_micros(col("ts")))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("us"))
        .agg(max(col("event_id")).as("v_event_id"))
        .select(col("user_id").as("v_user_id"), col("us").as("v_us"),
          col("v_event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us"), col("event_id"))
      org.apache.spark.sql.graft.PlanBridge
        .asofJoin(purchases, views, Seq("user_id" -> "v_user_id"), "us", "v_us",
          hint = "merge")
        .select(col("event_id"), col("user_id"), col("us"),
          col("v_us").as("matched_us"),
          col("v_event_id").as("matched_event_id"))
    },

    // FORWARD as-of (pandas merge_asof direction="forward"): each
    // purchase matched to the user's NEXT view at-or-after it — the
    // "what did they do right after buying" query. The forward merge
    // is even lighter than backward: the candidate IS the build
    // iterator's head, so the pass retains nothing and copies nothing.
    // Oracle: DuckDB ASOF with the inequality flipped (c.us <= v.us
    // picks the smallest v.us at-or-after).
    "ev08d_asof_forward" -> { (s, d) =>
      val ev = Tables.load(s, d, "events").withColumn("us", unix_micros(col("ts")))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("us"))
        .agg(max(col("event_id")).as("v_event_id"))
        .select(col("user_id").as("v_user_id"), col("us").as("v_us"),
          col("v_event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us"), col("event_id"))
      org.apache.spark.sql.graft.PlanBridge
        .asofJoin(purchases, views, Seq("user_id" -> "v_user_id"), "us", "v_us",
          hint = "merge", direction = "forward")
        .select(col("event_id"), col("user_id"), col("us"),
          col("v_us").as("next_us"),
          col("v_event_id").as("next_event_id"))
    },

    // TOLERANCE as-of (pandas merge_asof tolerance): most recent view
    // at-or-before each purchase, nulled when it is older than 30
    // minutes — attribution windows in one operator instead of an
    // inequality join. hint=auto exercises the JoinSelection-style
    // cost call inside a gated query (broadcast at these SFs; merge
    // beyond the threshold). Oracle: ASOF + CASE on the gap.
    "ev08e_asof_tolerance" -> { (s, d) =>
      val ev = Tables.load(s, d, "events").withColumn("us", unix_micros(col("ts")))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("us"))
        .agg(max(col("event_id")).as("v_event_id"))
        .select(col("user_id").as("v_user_id"), col("us").as("v_us"),
          col("v_event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us"), col("event_id"))
      org.apache.spark.sql.graft.PlanBridge
        .asofJoin(purchases, views, Seq("user_id" -> "v_user_id"), "us", "v_us",
          hint = "auto", toleranceUs = 1800L * 1000000L)
        .select(col("event_id"), col("user_id"), col("us"),
          col("v_us").as("matched_us"),
          col("v_event_id").as("matched_event_id"))
    },

    // ev08b's semantics through the SQL SURFACE: the query text uses
    // the graft `ASOF LEFT MERGE JOIN` clause, parsed by the injected
    // AsofSqlParser and lowered by ResolveAsofJoin — and the DuckDB
    // oracle answers with its NATIVE ASOF LEFT JOIN, so the driver
    // gate is a cross-engine parity check of the SQL surface itself.
    // Like every SQL-surface query it needs a session carrying
    // GraftExtensions (graft.GraftSession's).
    "ev08f_asof_sql" -> { (s, d) =>
      val ev = Tables.load(s, d, "events").withColumn("us", unix_micros(col("ts")))
      // per-invocation view names: parallel callers may share the
      // session, and fixed names would race across them
      val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("us"))
        .agg(max(col("event_id")).as("v_event_id"))
        .select(col("user_id").as("v_user_id"), col("us").as("v_us"),
          col("v_event_id"))
        .createOrReplaceTempView(s"graft_asof_views_$tag")
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us"), col("event_id"))
        .createOrReplaceTempView(s"graft_asof_purchases_$tag")
      val out = s.sql(
        s"""SELECT event_id, user_id, us,
           |  v_us AS matched_us, v_event_id AS matched_event_id
           |FROM graft_asof_purchases_$tag ASOF LEFT MERGE JOIN graft_asof_views_$tag
           |ON user_id = v_user_id AND us >= v_us""".stripMargin)
      s.catalog.dropTempView(s"graft_asof_views_$tag")
      s.catalog.dropTempView(s"graft_asof_purchases_$tag")
      out
    },

    // KEYLESS as-of: every purchase matched to the latest GLOBAL view
    // at-or-before it — no key at all, the "latest config
    // change/exchange-rate tick" shape. AsofKeyless composes it from
    // the keyed family with no input-sized single-partition stage:
    // time-bucket merge as-of (range-partitioned) + the per-bucket
    // running-last carry table probed via the broadcast as-of. DuckDB
    // answers with its NATIVE keyless ASOF JOIN — cross-engine parity
    // of the composition. Views pre-reduce to one row per timestamp
    // (max event_id), the operator family's determinism contract.
    "ev08g_asof_keyless" -> { (s, d) =>
      val ev = Tables.load(s, d, "events").withColumn("us", unix_micros(col("ts")))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("us").as("v_us"))
        .agg(max(col("event_id")).as("v_event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("us"))
      graft.plans.AsofKeyless
        .asofJoinKeyless(purchases, views, "us", "v_us")
        .select(col("event_id"), col("us"),
          col("v_us").as("matched_us"),
          col("v_event_id").as("matched_event_id"))
    },

    // ev08g through the SQL SURFACE: the graft ASOF clause with NO key
    // equality, lowered by ResolveAsofJoin onto the AsofKeyless
    // composition — while DuckDB answers with its native keyless ASOF.
    // Two engines, two parsers, one hash.
    "ev08h_asof_keyless_sql" -> { (s, d) =>
      val ev = Tables.load(s, d, "events").withColumn("us", unix_micros(col("ts")))
      val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      ev.filter(col("event_type") === "view")
        .groupBy(col("us").as("v_us"))
        .agg(max(col("event_id")).as("v_event_id"))
        .createOrReplaceTempView(s"graft_ka_views_$tag")
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("us"))
        .createOrReplaceTempView(s"graft_ka_purch_$tag")
      val out = s.sql(
        s"""SELECT event_id, us, v_us AS matched_us,
           |  v_event_id AS matched_event_id
           |FROM graft_ka_purch_$tag ASOF LEFT JOIN graft_ka_views_$tag
           |ON us >= v_us""".stripMargin)
      s.catalog.dropTempView(s"graft_ka_views_$tag")
      s.catalog.dropTempView(s"graft_ka_purch_$tag")
      out
    },

    // The BROADCAST as-of variant (BroadcastAsofJoinExec): the small
    // view table ships to executors and the purchase stream is joined
    // WITHOUT being shuffled or sorted — zero exchanges on the probe
    // side (plan-pinned in AsofPlanSpec). The 100 TB shape for as-of
    // against a small dimension (exchange rates, config history);
    // `hint = "auto"` would pick this automatically whenever the build
    // side's stats fall under autoBroadcastJoinThreshold.
    "ev08c_asof_broadcast" -> { (s, d) =>
      val ev = Tables.load(s, d, "events").withColumn("us", unix_micros(col("ts")))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("us"))
        .agg(max(col("event_id")).as("v_event_id"))
        .select(col("user_id").as("v_user_id"), col("us").as("v_us"),
          col("v_event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us"), col("event_id"))
      org.apache.spark.sql.graft.PlanBridge
        .asofJoin(purchases, views, Seq("user_id" -> "v_user_id"), "us", "v_us",
          hint = "broadcast")
        .select(col("event_id"), col("user_id"), col("us"),
          col("v_us").as("matched_us"),
          col("v_event_id").as("matched_event_id"))
    },

    // Ordered conversion funnel: first view → first click at-or-after
    // it → first purchase at-or-after that, per user; output is the
    // per-stage user counts.
    //
    // Round 17: ONE shuffle on user_id serves the whole funnel. The
    // old form ran each stage as its own filtered scan + groupBy +
    // join (3 event scans, ~8 AQE jobs whose taskSum was only ~200 ms
    // of the ~800 ms wall — pure stage-barrier overhead, the
    // sequential-job tier). Three STACKED whole-partition windows on
    // the same user_id partitioning compute the same stage times in
    // one pass with no join at all: v_us = min view time (min skips
    // the when()-nulls of other rows); c_us = min click time at or
    // after v_us (a user with no view has v_us null, the comparison is
    // null, the when yields null — exactly the old inner join dropping
    // them); p_us likewise off c_us. Same partitioning and no ordering
    // ⇒ Catalyst plans all three Window ops back-to-back in the one
    // exchange, and the per-user groupBy below reuses it (max of a
    // per-partition-constant column = that constant; all-null stays
    // null). The whole-partition frame buffers one user's events —
    // bounded per user at any corpus scale, the ev15 window class.
    "ev09_funnel" -> { (s, d) =>
      val ev = Tables.load(s, d, "events")
        .withColumn("us", unix_micros(col("ts")))
        .select(col("user_id"), col("event_type"), col("us"))
      val w = Window.partitionBy(col("user_id"))
      val staged = ev
        .withColumn("v_us",
          min(when(col("event_type") === "view", col("us"))).over(w))
        .withColumn("c_us",
          min(when(col("event_type") === "click" &&
            col("us") >= col("v_us"), col("us"))).over(w))
        .withColumn("p_us",
          min(when(col("event_type") === "purchase" &&
            col("us") >= col("c_us"), col("us"))).over(w))
        .groupBy(col("user_id"))
        .agg(max(col("v_us")).as("v_us"), max(col("c_us")).as("c_us"),
          max(col("p_us")).as("p_us"))
      staged.filter(col("v_us").isNotNull)
        .agg(count(lit(1)).as("n_view"),
          count(col("c_us")).as("n_click_after_view"),
          count(col("p_us")).as("n_purchase_funnel"))
    },

    // Cohort retention: users grouped by the week of their first event
    // (cohort), counted per week they were active in. Two aggregations
    // on user_id plus one on the (cohort, week) pair — the classic
    // retention-matrix shape; weeks serialize to dates for exact
    // cross-engine comparison.
    "ev10_cohort_retention" -> { (s, d) =>
      val ev = Tables.load(s, d, "events")
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      val first = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      val active = ev.distinct()
      active.join(first, "user_id")
        .groupBy(col("cohort_wk"), col("wk"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .select(date_format(col("cohort_wk"), "yyyy-MM-dd").as("cohort_week"),
          date_format(col("wk"), "yyyy-MM-dd").as("active_week"),
          col("n_users"))
    },

    // Salted equi-join (the skew-mitigation operator): semantically a
    // plain events⋈customer inner join — the oracle IS the plain join —
    // but executed with an 8-way key salt so a hot user lands on 8
    // reducers instead of one. Broadcast is disabled via the salted
    // right side's explode; see graft.ops.Skew.
    "sk01_salted_join" -> { (s, d) =>
      val ev = Tables.load(s, d, "events")
        .select(col("user_id"), col("event_id"), col("value"))
      val cust = Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      graft.ops.Skew
        .saltedJoin(ev, cust, col("user_id") === col("c_custkey"),
          saltBy = col("event_id"), salts = 8)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_events"), dsum6(col("value")).as("sum_value"))
    },

    // Event-type transition matrix (the first-order Markov view of the
    // user journey): for each user's event sequence ordered by
    // (micros, event_id), count every (from_type -> to_type) step.
    // One hash shuffle on user_id for the lead() window, then a
    // partial-aggregated groupBy whose output is bounded by
    // |event_type|² (25 cells here) — the second shuffle moves almost
    // nothing. Ordering key is the integer micros (unix_micros /
    // epoch_us) so both engines sort the identical value; event_id
    // (unique) breaks ties deterministically.
    "ev15_transition_matrix" -> { (s, d) =>
      val ev = Tables.load(s, d, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      ev.withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n_transitions"))
    },

    // Count-min-sketch accuracy audit over per-user event counts — the
    // sketch-calibration report a 100 TB deployment runs before trusting
    // CMS estimates for admission control / heavy-hitter routing. The
    // sketch itself is the production artifact: d=4 rows × w=1024
    // buckets, bucket = 20 md5 hex bits mod w (md5-derived like every
    // cross-engine hash here — NOT xxhash, which DuckDB lacks), built
    // as a SINGLE-PASS mergeable aggregate (functions.CmsAggregate: a
    // TypedImperativeAggregate whose buffer IS the d×w cell array —
    // map-side partial sketches merge cell-wise across the exchange,
    // no per-event d× explode; the exploded groupBy form this replaced
    // survives verbatim in the DuckDB oracle and in EventsCmsSpec's
    // full-population bound, certifying the aggregate produces the
    // exact same integers). The audit joins the top-50 exact heavy
    // hitters (deterministic ties: user_id) against their d probe
    // cells and reports est − exact, which CMS guarantees is ≥ 0 (min
    // over d row-estimates, each an overcount) — a property the spec
    // pins and the oracle replays bit-exactly, making this the sketch
    // family's HASH-EXACT member (q08b's HLL can only be band-gated).
    // Scale: the sketch pass ships ONE 32 KB buffer per map partition;
    // the only other corpus-sized work is the exact count's partial-agg
    // shuffle (deliberate — it is a sketch-accuracy audit).
    "ev16_cms_heavy_hitters" -> { (s, d) =>
      val D = 4
      val Wb = 1024
      def bucket(seed: Column, id: Column): Column =
        conv(substring(md5(concat_ws("_", seed, id)), 1, 5), 16, 10)
          .cast("long") % Wb
      val ev = Tables.load(s, d, "events").select(col("user_id"))
      // flattened cells (seed-major) → (seed, b, n) rows; only nonzero
      // cells, matching the exploded groupBy form row-for-row
      val cells = ev
        .agg(graft.functions.Cms.cmsSketch(col("user_id"), D, Wb).as("cells"))
        .select(posexplode(col("cells")))
        .select((expr(s"pos div $Wb") + 1).cast("int").as("seed"),
          (col("pos") % Wb).cast("long").as("b"),
          col("col").as("n"))
        .filter(col("n") > 0)
      val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
      val top = exact.orderBy(col("n_exact").desc, col("user_id")).limit(50)
      top
        .select(col("user_id"), col("n_exact"),
          explode(sequence(lit(1), lit(D))).as("seed"))
        .withColumn("b", bucket(col("seed"), col("user_id")))
        .join(cells, Seq("seed", "b"))
        .groupBy(col("user_id"), col("n_exact"))
        .agg(min(col("n")).as("n_est"))
        .select(col("user_id"), col("n_exact"), col("n_est"),
          (col("n_est") - col("n_exact")).as("overestimate"))
    },

    // Top-5 users by total value within each event type (rank + filter —
    // the SQL QUALIFY pattern).
    "ev04_top_users" -> { (s, d) =>
      val totals = Tables.load(s, d, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(dsum6(col("value")).as("total_value"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("total_value").desc, col("user_id"))
      totals.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
    }
  )

  def oracle: Map[String, String] = Map(
    "ev01_hourly_stats" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // ev16: the full CMS replayed — same md5-derived buckets (5 hex
    // digits as a 20-bit integer, the pp11 hex-arithmetic technique),
    // same cells, same min-over-rows estimate; every value an integer.
    "ev16_cms_heavy_hitters" -> {
      val hexw5 = "[65536,4096,256,16,1]"
      def bucketSql(expr: String) =
        s"""list_sum([ CAST(strpos('0123456789abcdef',
           |      substr(md5($expr), i, 1)) - 1 AS BIGINT)
           |    * ($hexw5)[i] FOR i IN range(1, 6) ]) % 1024""".stripMargin
      s"""WITH seeds AS (SELECT unnest(range(1, 5)) AS seed),
         |cells AS (
         |  SELECT seed,
         |    ${bucketSql("CAST(seed AS VARCHAR) || '_' || CAST(user_id AS VARCHAR)")} AS b,
         |    COUNT(*) AS n
         |  FROM events, seeds GROUP BY 1, 2
         |), exact AS (
         |  SELECT user_id, COUNT(*) AS n_exact FROM events GROUP BY user_id
         |), top AS (
         |  SELECT user_id, n_exact FROM exact
         |  ORDER BY n_exact DESC, user_id LIMIT 50
         |), probes AS (
         |  SELECT user_id, n_exact, seed,
         |    ${bucketSql("CAST(seed AS VARCHAR) || '_' || CAST(user_id AS VARCHAR)")} AS b
         |  FROM top, seeds
         |)
         |SELECT p.user_id, p.n_exact, MIN(c.n) AS n_est,
         |  MIN(c.n) - p.n_exact AS overestimate
         |FROM probes p JOIN cells c USING (seed, b)
         |GROUP BY p.user_id, p.n_exact""".stripMargin
    },

    // ev15: LEAD over the same integer micros ordering; ties broken by
    // the unique event_id in both engines.
    "ev15_transition_matrix" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS to_type
        |  FROM events)
        |SELECT event_type AS from_type, to_type,
        |  COUNT(*) AS n_transitions
        |FROM seq WHERE to_type IS NOT NULL
        |GROUP BY event_type, to_type""".stripMargin,

    "ev14_forward_fill" ->
      """SELECT event_id, user_id, v, filled FROM (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v,
        |    LAST_VALUE(CASE WHEN event_type = 'error' THEN NULL ELSE value END
        |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |  FROM events) t
        |WHERE user_id < 50""".stripMargin,

    "ev13_dau_wau" ->
      """WITH du AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        |), dau AS (
        |  SELECT day, COUNT(DISTINCT user_id) AS dau FROM du GROUP BY day
        |), wau AS (
        |  SELECT day + CAST(k AS INT) AS day, user_id
        |  FROM du CROSS JOIN (SELECT unnest(range(7)) AS k) ks
        |), wau_c AS (
        |  SELECT day, COUNT(DISTINCT user_id) AS wau FROM wau GROUP BY day
        |)
        |SELECT d.day, d.dau, w.wau,
        |  CAST(d.dau AS DOUBLE) / w.wau AS stickiness
        |FROM dau d JOIN wau_c w USING (day)""".stripMargin,

    "ev12_zscore_outliers" ->
      """WITH stats AS (
        |  SELECT event_type,
        |    CAST(s1 AS DOUBLE) / n AS mean,
        |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
        |      / nullif(n - 1, 0)) AS sd
        |  FROM (
        |    SELECT event_type, COUNT(*) AS n,
        |      SUM(CAST(value AS DECIMAL(18,6))) AS s1,
        |      SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS s2
        |    FROM events GROUP BY event_type) m)
        |SELECT event_id, event_type, z FROM (
        |  SELECT event_id, e.event_type,
        |    round((value - mean) / nullif(sd, 0.0), 4) AS z
        |  FROM events e JOIN stats USING (event_type)) t
        |WHERE abs(z) > 3.0""".stripMargin,

    "ev11_hopping_window" ->
      """SELECT strftime(make_timestamp(
        |    ((epoch_us(ts) // 900000000) - k) * 900000000),
        |    '%Y-%m-%d %H:%M:%S') AS win_start,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events CROSS JOIN (SELECT unnest(range(4)) AS k) ks
        |GROUP BY 1, 2""".stripMargin,

    "ev02_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800 * 1000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, us,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged
        |)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, COUNT(*) AS n_events,
        |  MIN(us) AS start_us, MAX(us) - MIN(us) AS duration_us
        |FROM sess GROUP BY user_id, session_seq""".stripMargin,

    "ev09_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        |), v AS (
        |  SELECT user_id, min(us) AS v_us FROM e
        |  WHERE event_type = 'view' GROUP BY user_id
        |), c AS (
        |  SELECT e.user_id, min(e.us) AS c_us FROM e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.us >= v.v_us GROUP BY e.user_id
        |), p AS (
        |  SELECT e.user_id, min(e.us) AS p_us FROM e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.us >= c.c_us GROUP BY e.user_id
        |)
        |SELECT count(*) AS n_view,
        |  count(c.c_us) AS n_click_after_view,
        |  count(p.p_us) AS n_purchase_funnel
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""".stripMargin,

    "ev10_cohort_retention" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('week', ts) AS wk FROM events
        |), first AS (
        |  SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY user_id
        |), active AS (
        |  SELECT DISTINCT user_id, wk FROM e
        |)
        |SELECT strftime(cohort_wk, '%Y-%m-%d') AS cohort_week,
        |  strftime(wk, '%Y-%m-%d') AS active_week,
        |  count(DISTINCT user_id) AS n_users
        |FROM active JOIN first USING (user_id)
        |GROUP BY cohort_wk, wk""".stripMargin,

    // the salted join is semantically the PLAIN join — that equivalence
    // is exactly what this oracle verifies
    "sk01_salted_join" ->
      """SELECT c_nationkey, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_nationkey""".stripMargin,

    "ev07_interval_join" ->
      """SELECT e.event_id, COUNT(p.pu) AS n_prior_purchases
        |FROM (SELECT event_id, user_id AS eu, ts AS ets FROM events
        |      WHERE event_type = 'error') e
        |LEFT JOIN (SELECT user_id AS pu, ts AS pts FROM events
        |           WHERE event_type = 'purchase') p
        |  ON e.eu = p.pu AND p.pts <= e.ets
        |     AND p.pts >= e.ets - INTERVAL 30 MINUTE
        |GROUP BY e.event_id""".stripMargin,

    // ev07b: identical semantics (and near-identical SQL — micros
    // instead of timestamps) to ev07; the Spark side runs the native
    // band operator instead of the residual-filtered equi-join.
    "ev07b_interval_native" ->
      """SELECT e.event_id, COUNT(p.pu) AS n_prior_purchases
        |FROM (SELECT event_id, user_id AS eu, epoch_us(ts) AS eus FROM events
        |      WHERE event_type = 'error') e
        |LEFT JOIN (SELECT user_id AS pu, epoch_us(ts) AS pus FROM events
        |           WHERE event_type = 'purchase') p
        |  ON e.eu = p.pu AND p.pus <= e.eus
        |     AND p.pus >= e.eus - 30 * 60 * 1000000
        |GROUP BY e.event_id""".stripMargin,

    // ev07c/ev07d: graft's BAND JOIN clause (resp. the plain-SQL
    // auto-rewrite) vs DuckDB's stock range join — identical BETWEEN
    // text on the DuckDB side for both.
    "ev07c_band_sql" ->
      """SELECT e.event_id, COUNT(p.pu) AS n_prior_purchases
        |FROM (SELECT event_id, user_id AS eu, epoch_us(ts) AS eus FROM events
        |      WHERE event_type = 'error') e
        |LEFT JOIN (SELECT user_id AS pu, epoch_us(ts) AS pus FROM events
        |           WHERE event_type = 'purchase') p
        |  ON e.eu = p.pu AND p.pus BETWEEN e.eus - 1800000000 AND e.eus
        |GROUP BY e.event_id""".stripMargin,

    "ev07d_band_auto" ->
      """SELECT e.event_id, COUNT(p.pu) AS n_prior_purchases
        |FROM (SELECT event_id, user_id AS eu, epoch_us(ts) AS eus FROM events
        |      WHERE event_type = 'error') e
        |LEFT JOIN (SELECT user_id AS pu, epoch_us(ts) AS pus FROM events
        |           WHERE event_type = 'purchase') p
        |  ON e.eu = p.pu AND p.pus BETWEEN e.eus - 1800000000 AND e.eus
        |GROUP BY e.event_id""".stripMargin,

    // ev07f: the side-swapped right-outer lowering vs DuckDB's stock
    // RIGHT JOIN of the identical text.
    "ev07f_band_right_outer" ->
      """SELECT e.event_id, COUNT(p.pu) AS n_prior_purchases
        |FROM (SELECT user_id AS pu, epoch_us(ts) AS pus FROM events
        |      WHERE event_type = 'purchase') p
        |RIGHT JOIN (SELECT event_id, user_id AS eu, epoch_us(ts) AS eus FROM events
        |            WHERE event_type = 'error') e
        |  ON e.eu = p.pu AND p.pus BETWEEN e.eus - 1800000000 AND e.eus
        |GROUP BY e.event_id""".stripMargin,

    // ev08g: graft's bucket+carry keyless as-of composition vs
    // DuckDB's native keyless ASOF JOIN.
    "ev08g_asof_keyless" ->
      """SELECT p.event_id, p.us,
        |  v.v_us AS matched_us, v.v_event_id AS matched_event_id
        |FROM (SELECT event_id, epoch_us(ts) AS us FROM events
        |      WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (
        |  SELECT epoch_us(ts) AS v_us, MAX(event_id) AS v_event_id
        |  FROM events WHERE event_type = 'view' GROUP BY 1) v
        |ON p.us >= v.v_us""".stripMargin,

    // ev08h: the graft keyless ASOF SQL clause vs the same DuckDB
    // native keyless ASOF as ev08g.
    "ev08h_asof_keyless_sql" ->
      """SELECT p.event_id, p.us,
        |  v.v_us AS matched_us, v.v_event_id AS matched_event_id
        |FROM (SELECT event_id, epoch_us(ts) AS us FROM events
        |      WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (
        |  SELECT epoch_us(ts) AS v_us, MAX(event_id) AS v_event_id
        |  FROM events WHERE event_type = 'view' GROUP BY 1) v
        |ON p.us >= v.v_us""".stripMargin,

    // ev07e: graft's bucketized keyless band operator vs DuckDB's
    // native keyless range join (IEJoin) — no key on either side.
    "ev07e_band_keyless" ->
      """SELECT e.event_id, COUNT(p.p_id) AS n_prior_purchases
        |FROM (SELECT event_id, epoch_us(ts) AS eus FROM events
        |      WHERE event_type = 'error') e
        |LEFT JOIN (SELECT event_id AS p_id, epoch_us(ts) AS pus FROM events
        |           WHERE event_type = 'purchase') p
        |  ON p.pus BETWEEN e.eus - 300000000 AND e.eus
        |GROUP BY e.event_id""".stripMargin,

    "ev06_session_window" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800 * 1000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, us,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged
        |)
        |SELECT user_id, MIN(us) AS start_us,
        |  MAX(us) + 1800 * 1000000 AS end_us,
        |  COUNT(*) AS n_events
        |FROM sess GROUP BY user_id, session_seq""".stripMargin,

    "ev03_json_extract" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,

    "ev08_asof_join" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type
        |            FROM events),
        |v AS (SELECT user_id, us, MAX(event_id) AS v_event_id
        |      FROM ev WHERE event_type = 'view' GROUP BY user_id, us),
        |c AS (SELECT event_id, user_id, us FROM ev WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.us,
        |  v.us AS matched_us, v.v_event_id AS matched_event_id
        |FROM c ASOF LEFT JOIN v
        |  ON c.user_id = v.user_id AND c.us >= v.us""".stripMargin,

    // ev08e: tolerance — ASOF match nulled beyond the 30-minute gap.
    "ev08e_asof_tolerance" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type
        |            FROM events),
        |v AS (SELECT user_id, us, MAX(event_id) AS v_event_id
        |      FROM ev WHERE event_type = 'view' GROUP BY user_id, us),
        |c AS (SELECT event_id, user_id, us FROM ev WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.us,
        |  CASE WHEN c.us - v.us <= 1800000000 THEN v.us END AS matched_us,
        |  CASE WHEN c.us - v.us <= 1800000000 THEN v.v_event_id END
        |    AS matched_event_id
        |FROM c ASOF LEFT JOIN v
        |  ON c.user_id = v.user_id AND c.us >= v.us""".stripMargin,

    // ev08d: forward direction — the ASOF inequality flipped.
    "ev08d_asof_forward" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type
        |            FROM events),
        |v AS (SELECT user_id, us, MAX(event_id) AS v_event_id
        |      FROM ev WHERE event_type = 'view' GROUP BY user_id, us),
        |c AS (SELECT event_id, user_id, us FROM ev WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.us,
        |  v.us AS next_us, v.v_event_id AS next_event_id
        |FROM c ASOF LEFT JOIN v
        |  ON c.user_id = v.user_id AND c.us <= v.us""".stripMargin,

    // ev08c: identical semantics, broadcast operator — same oracle.
    "ev08c_asof_broadcast" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type
        |            FROM events),
        |v AS (SELECT user_id, us, MAX(event_id) AS v_event_id
        |      FROM ev WHERE event_type = 'view' GROUP BY user_id, us),
        |c AS (SELECT event_id, user_id, us FROM ev WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.us,
        |  v.us AS matched_us, v.v_event_id AS matched_event_id
        |FROM c ASOF LEFT JOIN v
        |  ON c.user_id = v.user_id AND c.us >= v.us""".stripMargin,

    // ev08b: identical semantics, native operator — same oracle.
    "ev08b_asof_native" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type
        |            FROM events),
        |v AS (SELECT user_id, us, MAX(event_id) AS v_event_id
        |      FROM ev WHERE event_type = 'view' GROUP BY user_id, us),
        |c AS (SELECT event_id, user_id, us FROM ev WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.us,
        |  v.us AS matched_us, v.v_event_id AS matched_event_id
        |FROM c ASOF LEFT JOIN v
        |  ON c.user_id = v.user_id AND c.us >= v.us""".stripMargin,

    // ev08f: graft's ASOF SQL clause vs DuckDB's native one — the two
    // engines each parse their own ASOF LEFT JOIN syntax and must land
    // on identical rows.
    "ev08f_asof_sql" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type
        |            FROM events),
        |v AS (SELECT user_id, us, MAX(event_id) AS v_event_id
        |      FROM ev WHERE event_type = 'view' GROUP BY user_id, us),
        |c AS (SELECT event_id, user_id, us FROM ev WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.us,
        |  v.us AS matched_us, v.v_event_id AS matched_event_id
        |FROM c ASOF LEFT JOIN v
        |  ON c.user_id = v.user_id AND c.us >= v.us""".stripMargin,

    "ev04_top_users" ->
      """SELECT event_type, user_id, total_value, CAST(rank AS INT) AS rank FROM (
        |  SELECT event_type, user_id,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) DESC, user_id) AS rank
        |  FROM events GROUP BY event_type, user_id) t
        |WHERE rank <= 5""".stripMargin
  )
}
