package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Streaming/batch parity: the DuckDB-verified batch queries (ev01/ev02)
  * act as oracles for the streaming versions. */
class EventsStreamSpec extends SparkSpec {

  /** File stream sources consume directories (files get dropped in over
    * time) — stage the single events parquet into one. */
  private lazy val eventsDir: String = {
    val dir = tempDir("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("streaming hourly stats (complete mode) matches the batch ev01 aggregation") {
    val stream = EventsStream.readEvents(spark, eventsDir)
    // complete mode: every window emitted regardless of watermark — the
    // bounded-input equivalence run
    val q = EventsStream.hourlyStats(stream)
      .writeStream.format("memory").queryName("hourly").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hourly")
        .select("hour", "event_type", "n_events", "sum_value").collect().toSet
      val batch = graft.queries.Events.queries("ev01_hourly_stats")(spark, sf)
        .collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming hopping windows match the oracle-checked batch ev11 exactly") {
    val stream = EventsStream.readEvents(spark, eventsDir)
    val q = EventsStream.hoppingStats(stream)
      .writeStream.format("memory").queryName("hopping").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hopping")
        .select("win_start", "event_type", "n_events", "sum_value").collect().toSet
      val batch = graft.queries.Events.queries("ev11_hopping_window")(spark, sf)
        .collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming sessionization matches batch ev02 session count and sizes") {
    val stream = EventsStream.readEvents(spark, eventsDir, maxFilesPerTrigger = 100)
    val q = EventsStream.sessionize(spark, stream)
      .writeStream.format("memory").queryName("sessions").outputMode("update").start()
    try {
      q.processAllAvailable()
      // one trigger (single file) → each emitted row is a distinct session
      val streamed = spark.table("sessions")
        .select(col("user_id"), col("n_events"), col("start_us"), col("duration_us"))
        .collect().toSet
      val batch = graft.queries.Events.queries("ev02_sessionize")(spark, sf)
        .select(col("user_id"), col("n_events"), col("start_us"), col("duration_us"))
        .collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("readEvents starts on an initially-empty directory and reads files that arrive later") {
    // the class-doc pattern: the stream is declared before any file
    // exists; the footer probe cannot infer a schema and must fall back
    // to the current-generation NTZ layout instead of throwing
    val dir = tempDir("events_empty")
    val stream = EventsStream.readEvents(spark, dir.toString, maxFilesPerTrigger = 100)
    val q = stream.writeStream.format("memory").queryName("late_start")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("late_start").count() == 0)
      // first file lands after the stream started
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
        dir.resolve("a.parquet"))
      q.processAllAvailable()
      val total = graft.Tables.load(spark, sf, "events").count()
      assert(spark.table("late_start").count() == total)
      // and the normalized instants match the batch reader's exactly
      val streamed = spark.table("late_start")
        .select(col("event_id"), col("ts")).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
      val batch = graft.Tables.load(spark, sf, "events")
        .select(col("event_id"), col("ts")).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming exact dedup: dropDuplicates with watermark removes replayed events") {
    // duplicate the events file in the drop dir → every event arrives twice
    val dir = tempDir("events_dup")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("a.parquet"))
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("b.parquet"))
    val stream = EventsStream.readEvents(spark, dir.toString, maxFilesPerTrigger = 100)
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
    val q = stream.writeStream.format("memory").queryName("dedup_events")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val n = spark.table("dedup_events").count()
      val total = graft.Tables.load(spark, sf, "events").count()
      assert(n == total, s"deduped stream should have $total rows, got $n")
    } finally q.stop()
  }

  test("stream-stream self-join within the watermark window (purchase→error correlation)") {
    val purchases = EventsStream.readEvents(spark, eventsDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val errors = EventsStream.readEvents(spark, eventsDir)
      .filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"))
      .withWatermark("e_ts", "1 hour")
    val joined = purchases.join(errors,
      col("p_user") === col("e_user") &&
        col("e_ts") >= col("p_ts") &&
        col("e_ts") <= col("p_ts") + expr("INTERVAL 30 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("pe_join")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("pe_join").count()
      // batch equivalent over the same data
      val ev = graft.Tables.load(spark, sf, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      val e = ev.filter(col("event_type") === "error")
        .select(col("user_id").as("e_user"), col("ts").as("e_ts"))
      val batch = p.join(e,
        col("p_user") === col("e_user") &&
          col("e_ts") >= col("p_ts") &&
          col("e_ts") <= col("p_ts") + expr("INTERVAL 30 MINUTES")).count()
      assert(streamed == batch && batch > 0,
        s"stream-stream join $streamed should equal batch $batch")
    } finally q.stop()
  }

  test("stream-static enrichment join matches the batch ev05 aggregation") {
    val c = graft.Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val n = graft.Tables.load(spark, sf, "nation")
    val stream = EventsStream.readEvents(spark, eventsDir)
      .join(c, col("user_id") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val q = stream.writeStream.format("memory").queryName("enriched")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("enriched").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val batch = graft.queries.Pipeline.queries("ev05_enriched_by_nation")(spark, sf)
        .select(col("n_name"), col("event_type"), col("n_events")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming as-of join matches the oracle-checked batch ev08 exactly") {
    val stream = EventsStream.readEvents(spark, eventsDir, maxFilesPerTrigger = 100)
    val q = EventsStream.asofJoin(spark, stream)
      .writeStream.format("memory").queryName("asof").outputMode("update").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))
      val streamed = spark.table("asof")
        .select("event_id", "user_id", "us", "matched_us", "matched_event_id")
        .collect().map(key).toSet
      val batch = graft.queries.Events.queries("ev08_asof_join")(spark, sf)
        .select("event_id", "user_id", "us", "matched_us", "matched_event_id")
        .collect().map(key).toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("STREAM-STATIC broadcast as-of enrichment: a streaming event " +
      "feed as-of joined to a static dimension matches the batch join") {
    import org.apache.spark.sql.graft.PlanBridge
    // static dimension: each user's views pre-reduced per timestamp —
    // the exchange-rate/config-history shape, broadcast per microbatch
    val dim = graft.Tables.load(spark, sf, "events")
      .filter(col("event_type") === "view")
      .withColumn("v_us", unix_micros(col("ts")))
      .groupBy(col("user_id").as("v_user_id"), col("v_us"))
      .agg(max(col("event_id")).as("v_event_id"))
    val stream = EventsStream.readEvents(spark, eventsDir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    val joined = PlanBridge.asofJoin(stream, dim,
      Seq("user_id" -> "v_user_id"), "us", "v_us", hint = "broadcast")
    assert(joined.isStreaming, "stream-static as-of lost its streaming-ness")
    val q = joined.writeStream.format("memory").queryName("ss_asof")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          if (r.isNullAt(5)) None else Some(r.getLong(5)))
      val streamed = spark.table("ss_asof").collect().map(key).toSet
      val batchProbe = graft.Tables.load(spark, sf, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      val batch = PlanBridge.asofJoin(batchProbe, dim,
          Seq("user_id" -> "v_user_id"), "us", "v_us", hint = "broadcast")
        .collect().map(key).toSet
      assert(streamed == batch && batch.nonEmpty)
      assert(streamed.exists(_._4.isDefined))
    } finally q.stop()
  }

  test("STREAM-STATIC KEYLESS as-of enrichment matches the oracle-gated " +
      "batch ev08g on the same data (broadcast in-bucket + carry)") {
    // static build: global views pre-reduced per timestamp — the
    // exchange-rate/config-tick shape ev08g gates against DuckDB's
    // native keyless ASOF JOIN
    val dim = graft.Tables.load(spark, sf, "events")
      .filter(col("event_type") === "view")
      .groupBy(unix_micros(col("ts")).as("v_us"))
      .agg(max(col("event_id")).as("v_event_id"))
    val stream = EventsStream.readEvents(spark, eventsDir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
    val joined = graft.plans.AsofKeyless
      .asofJoinKeyless(stream, dim, "us", "v_us")
    assert(joined.isStreaming, "stream-static keyless as-of lost its streaming-ness")
    val q = joined.writeStream.format("memory").queryName("ss_ka")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))
      val streamed = spark.table("ss_ka").collect().map(key).toSet
      val batch = graft.queries.Events.queries("ev08g_asof_keyless")(spark, sf)
        .select("event_id", "us", "matched_us", "matched_event_id")
        .collect().map(key).toSet
      assert(streamed == batch && batch.nonEmpty,
        s"keyless stream-static as-of diverged: ${streamed.size} vs ${batch.size}")
      assert(streamed.exists(_._3.isDefined))
    } finally q.stop()
  }

  test("keyless ASOF SQL clause accepts a STREAMING probe (stream-static " +
      "enrichment through the parser + analyzer rule)") {
    val sqlS = spark.newSession()
    graft.Tables.load(sqlS, sf, "events")
      .filter(col("event_type") === "view")
      .groupBy(unix_micros(col("ts")).as("v_us"))
      .agg(max(col("event_id")).as("v_event_id"))
      .createOrReplaceTempView("ka_static_dim")
    EventsStream.readEvents(sqlS, eventsDir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .createOrReplaceTempView("ka_stream_probe")
    val batch = graft.queries.Events.queries("ev08g_asof_keyless")(spark, sf)
      .select("event_id", "us", "matched_us", "matched_event_id")
      .collect().map(keyKa).toSet
    // default (broadcast in-bucket) and EXPLICIT MERGE (microbatch
    // shuffles instead — the too-big-to-broadcast-build escape hatch)
    try for (joinText <- Seq("ASOF LEFT JOIN", "ASOF LEFT MERGE JOIN")) {
      val name = s"ka_sql_${if (joinText.contains("MERGE")) "m" else "b"}"
      val joined = sqlS.sql(
        s"""SELECT event_id, us, v_us AS matched_us, v_event_id AS matched_event_id
           |FROM ka_stream_probe $joinText ka_static_dim
           |ON us >= v_us""".stripMargin)
      assert(joined.isStreaming, s"$joinText lost its streaming-ness")
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val streamed = sqlS.table(name).collect().map(keyKa).toSet
        assert(streamed == batch && batch.nonEmpty, s"$joinText diverged")
      } finally q.stop()
    } finally {
      sqlS.catalog.dropTempView("ka_static_dim")
      sqlS.catalog.dropTempView("ka_stream_probe")
    }
  }

  private def keyKa(r: org.apache.spark.sql.Row) =
    (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)),
      if (r.isNullAt(3)) None else Some(r.getLong(3)))

  test("STREAM-STATIC KEYLESS band enrichment matches the oracle-gated " +
      "batch ev07e on the same data (broadcast in-bucket band)") {
    import org.apache.spark.sql.graft.PlanBridge
    // static build: all purchases; streaming probe: the error feed —
    // ev07e's exact question ("purchases by ANYONE in the 5 minutes
    // before each error") asked of a live stream
    val p = graft.Tables.load(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .select(unix_micros(col("ts")).as("pus"), col("event_id").as("p_id"))
    val stream = EventsStream.readEvents(spark, eventsDir)
      .filter(col("event_type") === "error")
      .select(col("event_id"), unix_micros(col("ts")).as("eus"))
    val joined = PlanBridge.bandJoinKeyless(stream, p, "eus", "pus",
      lowUs = -5L * 60 * 1000000, highUs = 0L)
    assert(joined.isStreaming, "stream-static keyless band lost its streaming-ness")
    val q = joined.writeStream.format("memory").queryName("ss_kb")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // output = (event_id, eus, pus, p_id); count non-null matches per
      // probe driver-side and compare against the oracle-gated aggregate
      val streamed = spark.table("ss_kb").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(3)) 0L else 1L))
        .groupBy(_._1).map { case (k, v) => (k, v.map(_._2).sum) }
      val batch = graft.queries.Events.queries("ev07e_band_keyless")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(streamed == batch && batch.nonEmpty,
        s"keyless stream-static band diverged: ${streamed.size} vs ${batch.size}")
      assert(streamed.values.exists(_ > 0L), "no error ever saw a purchase")
    } finally q.stop()
  }

  test("keyless BAND SQL clause accepts a STREAMING probe (stream-static " +
      "enrichment through the parser + resolution rule)") {
    val sqlS = spark.newSession()
    graft.Tables.load(sqlS, sf, "events")
      .filter(col("event_type") === "purchase")
      .select(unix_micros(col("ts")).as("pus"), col("event_id").as("p_id"))
      .createOrReplaceTempView("kb_static_dim")
    EventsStream.readEvents(sqlS, eventsDir)
      .filter(col("event_type") === "error")
      .select(col("event_id"), unix_micros(col("ts")).as("eus"))
      .createOrReplaceTempView("kb_stream_probe")
    val joined = sqlS.sql(
      """SELECT event_id, eus, pus, p_id
        |FROM kb_stream_probe BAND LEFT JOIN kb_static_dim
        |ON pus BETWEEN eus - 300000000 AND eus""".stripMargin)
    assert(joined.isStreaming, "SQL keyless band lost its streaming-ness")
    val q = joined.writeStream.format("memory").queryName("kb_sql_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = sqlS.table("kb_sql_stream").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(3)) 0L else 1L))
        .groupBy(_._1).map { case (k, v) => (k, v.map(_._2).sum) }
      val batch = graft.queries.Events.queries("ev07e_band_keyless")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(streamed == batch && batch.nonEmpty)
    } finally {
      q.stop()
      sqlS.catalog.dropTempView("kb_static_dim")
      sqlS.catalog.dropTempView("kb_stream_probe")
    }
  }

  test("KEYED BAND SQL clause accepts a STREAMING probe — broadcast by " +
      "default, explicit MERGE honored (microbatch shuffles, same rows); " +
      "both match the oracle-gated batch ev07") {
    val sqlS = spark.newSession()
    graft.Tables.load(sqlS, sf, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), unix_micros(col("ts")).as("pus"))
      .createOrReplaceTempView("kbk_static_purch")
    EventsStream.readEvents(sqlS, eventsDir)
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id").as("eu"),
        unix_micros(col("ts")).as("eus"))
      .createOrReplaceTempView("kbk_stream_err")
    val batch = graft.queries.Events.queries("ev07_interval_join")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    try for (joinText <- Seq("BAND LEFT JOIN", "BAND LEFT MERGE JOIN")) {
      val name = s"kbk_${if (joinText.contains("MERGE")) "m" else "b"}"
      val joined = sqlS.sql(
        s"""SELECT event_id, eus, pus
           |FROM kbk_stream_err $joinText kbk_static_purch
           |ON eu = pu AND pus BETWEEN eus - 1800000000 AND eus""".stripMargin)
      assert(joined.isStreaming, s"$joinText lost its streaming-ness")
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val streamed = sqlS.table(name).collect()
          .map(r => (r.getLong(0), if (r.isNullAt(2)) 0L else 1L))
          .groupBy(_._1).map { case (k, v) => (k, v.map(_._2).sum) }
        assert(streamed == batch && batch.nonEmpty,
          s"$joinText diverged: ${streamed.size} vs ${batch.size}")
      } finally q.stop()
    } finally {
      sqlS.catalog.dropTempView("kbk_static_purch")
      sqlS.catalog.dropTempView("kbk_stream_err")
    }
  }

  test("STREAMING corpus semantic decontamination matches the " +
      "oracle-gated batch dc04 (stateless fold per microbatch)") {
    val dir = tempDir("emb_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/embeddings.parquet"),
      dir.resolve("embeddings.parquet"))
    val all = graft.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val eval = all
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(50)
      .select(col("vec_id").as("e_id"), col("embedding").as("e_vec"))
    val stream = spark.readStream.schema(all.schema).parquet(dir.toString)
      .join(broadcast(eval.select(col("e_id"))),
        col("vec_id") === col("e_id"), "left_anti")
    val flagged = graft.queries.Pipeline.decontaminateEmbed(stream, eval, 0.35)
    assert(flagged.isStreaming, "streaming decontamination lost its streaming-ness")
    val q = flagged.writeStream.format("memory").queryName("dc04s")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getDouble(2))
      val streamed = spark.table("dc04s").collect().map(key).toSet
      val batch = graft.queries.Pipeline
        .queries("dc04_decontaminate_embed")(spark, sf)
        .collect().map(key).toSet
      assert(streamed == batch && batch.nonEmpty,
        s"streaming dc04 diverged: ${streamed.size} vs ${batch.size}")
    } finally q.stop()
  }

  test("a streaming probe steers the DEFAULT hint to broadcast on every " +
      "keyed surface (PlanBridge, ASOF SQL); explicit merge preserved") {
    import org.apache.spark.sql.graft.PlanBridge
    val dim = graft.Tables.load(spark, sf, "events").limit(10)
      .select(col("user_id").as("v_uid"), unix_micros(col("ts")).as("v_us"))
    val stream = EventsStream.readEvents(spark, eventsDir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    def asofHint(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.analyzed.collectFirst {
        case a @ graft.plans.TimeJoinPlan(_, _, _, _, _, _,
            _: graft.plans.Asof, _) => a.hint }.get
    def bandHint(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.analyzed.collectFirst {
        case b @ graft.plans.TimeJoinPlan(_, _, _, _, _, _,
            _: graft.plans.Band, _) => b.hint }.get
    // the physical strategy can't see streaming-ness (per-microbatch
    // replanning replaces the leaf), so the default must be decided at
    // analysis time — pin it on each entry point
    assert(asofHint(PlanBridge.asofJoin(stream, dim,
      Seq("user_id" -> "v_uid"), "us", "v_us")) == "broadcast")
    assert(asofHint(PlanBridge.asofJoin(stream, dim,
      Seq("user_id" -> "v_uid"), "us", "v_us", hint = "merge")) == "merge")
    assert(bandHint(PlanBridge.bandJoin(stream, dim,
      Seq("user_id" -> "v_uid"), "us", "v_us", -10L, 0L)) == "broadcast")
    val sqlS = spark.newSession()
    graft.Tables.load(sqlS, sf, "events").limit(10)
      .select(col("user_id").as("v_uid"), unix_micros(col("ts")).as("v_us"))
      .createOrReplaceTempView("sh_dim")
    EventsStream.readEvents(sqlS, eventsDir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      .createOrReplaceTempView("sh_stream")
    try {
      val viaSql = sqlS.sql(
        """SELECT event_id FROM sh_stream ASOF LEFT JOIN sh_dim
          |ON user_id = v_uid AND us >= v_us""".stripMargin)
      assert(asofHint(viaSql) == "broadcast",
        "keyed ASOF SQL clause did not steer the default hint")
    } finally {
      sqlS.catalog.dropTempView("sh_dim")
      sqlS.catalog.dropTempView("sh_stream")
    }
  }

  test("a streaming BUILD side is refused loudly — as-of and band, keyed " +
      "and keyless (a per-microbatch join would lose cross-batch matches)") {
    import org.apache.spark.sql.graft.PlanBridge
    val streamBuild = EventsStream.readEvents(spark, eventsDir)
      .select(col("user_id").as("b_key"), unix_micros(col("ts")).as("bus"),
        col("event_id").as("b_id"))
    val probe = graft.Tables.load(spark, sf, "events")
      .select(col("event_id").as("p_id2"), col("user_id").as("p_key"),
        unix_micros(col("ts")).as("pus2"))
    val e1 = intercept[IllegalArgumentException] {
      PlanBridge.asofJoin(probe, streamBuild,
        Seq("p_key" -> "b_key"), "pus2", "bus")
    }
    assert(e1.getMessage.contains("static"))
    val e2 = intercept[IllegalArgumentException] {
      PlanBridge.bandJoin(probe, streamBuild,
        Seq("p_key" -> "b_key"), "pus2", "bus", -10L, 0L)
    }
    assert(e2.getMessage.contains("static"))
    val e3 = intercept[IllegalArgumentException] {
      PlanBridge.bandJoinKeyless(probe, streamBuild, "pus2", "bus", -10L, 0L)
    }
    assert(e3.getMessage.contains("static"))
  }

  test("tolerance-bounded STREAM-STREAM as-of matches the oracle-gated " +
      "batch ev08e exactly (watermarked, band-shaped view buffer)") {
    val stream = EventsStream.readEvents(spark, eventsDir, maxFilesPerTrigger = 100)
    val q = EventsStream.asofTolerance(spark, stream)
      .writeStream.format("memory").queryName("asoftol").outputMode("update").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))
      val streamed = spark.table("asoftol")
        .select("event_id", "user_id", "us", "matched_us", "matched_event_id")
        .collect().map(key).toSet
      val batch = graft.queries.Events.queries("ev08e_asof_tolerance")(spark, sf)
        .select("event_id", "user_id", "us", "matched_us", "matched_event_id")
        .collect().map(key).toSet
      // ASSUMPTION this parity rests on (pinned here so a future corpus
      // or trigger-size change fails with a diagnosis, not a mystery):
      // the Update-mode emit-once contract (EventsStream.asofTolerance
      // doc) is never exercised by this corpus at maxFilesPerTrigger=100
      // — a view arriving in a LATER trigger than a dependent purchase
      // would legitimately diverge from batch ev08e. Today the corpus
      // fits in few triggers and per-user file order preserves it.
      assert(streamed == batch && batch.nonEmpty,
        s"stream/batch tolerance-as-of parity failed (streamed " +
          s"${streamed.size} vs batch ${batch.size}). Before suspecting " +
          "the operator: this parity assumes no view lands in a later " +
          "trigger than a purchase it should match (the documented " +
          "Update-mode emit-once asymmetry). If the events corpus or " +
          "maxFilesPerTrigger changed, check trigger boundaries first.")
      // the tolerance must actually bite on this corpus — otherwise
      // this parity is just the plain ev08 test again
      val unbounded = graft.queries.Events.queries("ev08_asof_join")(spark, sf)
        .filter(col("matched_us").isNotNull).count()
      val bounded = batch.count(_._4.isDefined)
      assert(bounded < unbounded,
        s"tolerance never nulled a match ($bounded vs $unbounded) — " +
          "the spec is not exercising the bound")
    } finally q.stop()
  }

  test("streaming band join matches the oracle-checked batch ev07 exactly " +
      "(watermarked, band-occupancy state)") {
    val stream = EventsStream.readEvents(spark, eventsDir, maxFilesPerTrigger = 100)
    val q = EventsStream.bandCount(spark, stream)
      .writeStream.format("memory").queryName("bandcnt").outputMode("update").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("bandcnt")
        .select("event_id", "n_prior_purchases").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val batch = graft.queries.Events.queries("ev07_interval_join")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(streamed == batch && batch.nonEmpty,
        s"streaming band: ${streamed.size} errors vs batch ${batch.size}")
      assert(streamed.values.exists(_ > 0L), "no error ever saw a purchase")
    } finally q.stop()
  }

  test("streaming funnel stage counts match the oracle-checked batch ev09") {
    val stream = EventsStream.readEvents(spark, eventsDir, maxFilesPerTrigger = 100)
    val q = EventsStream.funnel(spark, stream)
      .writeStream.format("memory").queryName("funnel").outputMode("update").start()
    try {
      q.processAllAvailable()
      // latest snapshot per user = funnel position; count per stage
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(monotonically_increasing_id().desc)
      val last = spark.table("funnel")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      val sv = last.filter(col("v_us").isNotNull).count()
      val sc = last.filter(col("c_us").isNotNull).count()
      val sp = last.filter(col("p_us").isNotNull).count()
      val b = graft.queries.Events.queries("ev09_funnel")(spark, sf).collect()(0)
      assert((sv, sc, sp) == (b.getLong(0), b.getLong(1), b.getLong(2)))
      assert(sv > 0 && sv >= sc && sc >= sp)
    } finally q.stop()
  }

  test("watermarked append mode emits only watermark-closed windows (late-data semantics)") {
    val stream = EventsStream.readEvents(spark, eventsDir)
    val q = EventsStream.hourlyStats(stream)
      .writeStream.format("memory").queryName("hourly_append").outputMode("append").start()
    try {
      q.processAllAvailable()
      val appended = spark.table("hourly_append").count()
      val total = graft.queries.Events.queries("ev01_hourly_stats")(spark, sf).count()
      // windows at/after the final watermark stay open — append must be
      // strictly fewer rows than the complete result, and non-empty
      assert(appended > 0 && appended < total)
    } finally q.stop()
  }
}
