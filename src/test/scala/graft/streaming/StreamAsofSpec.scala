package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The append-mode stream-stream as-of ([[StreamAsof]]) and its SQL
  * surface: exact equality to the oracle-gated batch ev08e INCLUDING
  * the late-view retro-matches the Update-mode twin documents away —
  * every view arrives in a LATER trigger than every purchase, so any
  * match in the output is a retro-match. The staged corpus is three
  * files in forced modification-time order (purchases, then views,
  * then two far-future sentinels that push the watermark past every
  * real emit window so append mode emits the complete result). */
class StreamAsofSpec extends SparkSpec {

  private val tolUs = 1800L * 1000000L

  /** purchases file, then views file, then the watermark-push sentinels
    * — one file per trigger (maxFilesPerTrigger = 1). */
  private lazy val stagedDir: String = {
    val dir = tempDir("stream_asof")
    val ev = graft.Tables.load(spark, sf, "events")
    def stage(df: DataFrame, name: String, mtime: Long): Unit = {
      val tmp = tempDir(s"stage_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
      assert(part.length == 1)
      val dst = dir.resolve(s"$name.parquet")
      java.nio.file.Files.copy(java.nio.file.Paths.get(part(0)), dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val t0 = System.currentTimeMillis() - 3600000L
    stage(ev.filter(col("event_type") === "purchase"), "1_purchases", t0)
    stage(ev.filter(col("event_type") === "error"), "1b_errors", t0 + 30000L)
    stage(ev.filter(col("event_type") === "view"), "2_views", t0 + 60000L)
    // sentinels 200 days past the corpus (spans 2024-01): one per
    // event_type so BOTH sides' watermarks advance past every window
    import spark.implicits._
    val far = java.sql.Timestamp.valueOf("2024-08-01 00:00:00")
    stage(Seq(
      (-1L, far, -1L, "view", 0.0, null.asInstanceOf[String]),
      (-2L, far, -2L, "purchase", 0.0, null.asInstanceOf[String]))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      "3_sentinel", t0 + 120000L)
    dir.toString
  }

  private def sideStream(t: String, prefix: String): DataFrame =
    EventsStream.readEvents(spark, stagedDir, maxFilesPerTrigger = 1)
      .filter(col("event_type") === t)
      .select(col("event_id").as(s"${prefix}_event_id"),
        col("ts").as(s"${prefix}_ts"),
        col("user_id").as(s"${prefix}_user_id"))
      // 60-day delay >> the 30-day corpus span: nothing real is ever
      // late, so the cross-trigger view arrival is pure retro-matching
      .withWatermark(s"${prefix}_ts", "60 days")

  private def batchEv08e =
    graft.queries.Events.queries("ev08e_asof_tolerance")(spark, sf)
      .select("event_id", "user_id", "us", "matched_us", "matched_event_id")

  private def asTuples(df: DataFrame) = df.collect().map(r =>
    (r.getLong(0), r.getLong(1), r.getLong(2),
      if (r.isNullAt(3)) None else Some(r.getLong(3)),
      if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSet

  test("append-mode stream-stream as-of equals batch ev08e EXACTLY, " +
      "with every view arriving a trigger after every purchase " +
      "(retro-matching the Update-mode twin documents away)") {
    val out = StreamAsof.asofToleranceAppend(
      sideStream("purchase", "p"), sideStream("view", "v"),
      Seq("p_user_id" -> "v_user_id"), "p_ts", "v_ts", tolUs)
      .select(col("p_event_id").as("event_id"),
        col("p_user_id").as("user_id"),
        unix_micros(col("p_ts")).as("us"),
        unix_micros(col("v_ts")).as("matched_us"),
        col("v_event_id").as("matched_event_id"))
    val q = out.writeStream.format("memory").queryName("ssasof")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = asTuples(spark.table("ssasof")
        .filter(col("user_id") >= 0L)) // drop the sentinel purchase
      val batch = asTuples(batchEv08e)
      assert(streamed == batch && batch.nonEmpty,
        s"streamed ${streamed.size} rows vs batch ${batch.size}")
      // the retro-match claim: views were only ever delivered AFTER
      // every purchase was processed, so every matched row here was
      // matched retroactively — there must be at least one
      assert(streamed.exists(_._4.isDefined),
        "no retro-match happened — the staging did not exercise the claim")
    } finally q.stop()
  }

  test("SQL ASOF LEFT JOIN ... TOLERANCE over two STREAMING views lowers " +
      "to the append-mode composition and equals batch ev08e") {
    val s = spark.newSession()
    def side(t: String, prefix: String): DataFrame =
      EventsStream.readEvents(s, stagedDir, maxFilesPerTrigger = 1)
        .filter(col("event_type") === t)
        .select(col("event_id").as(s"${prefix}_event_id"),
          col("ts").as(s"${prefix}_ts"),
          col("user_id").as(s"${prefix}_user_id"))
        .withWatermark(s"${prefix}_ts", "60 days")
    side("purchase", "p").createOrReplaceTempView("ss_purchases")
    side("view", "v").createOrReplaceTempView("ss_views")
    try {
      val out = s.sql(
        s"""SELECT p_event_id AS event_id, p_user_id AS user_id,
           |  unix_micros(p_ts) AS us, unix_micros(v_ts) AS matched_us,
           |  v_event_id AS matched_event_id
           |FROM ss_purchases ASOF LEFT JOIN ss_views
           |ON p_user_id = v_user_id AND p_ts >= v_ts
           |TOLERANCE $tolUs""".stripMargin)
      assert(out.isStreaming, "SQL streaming as-of lost streaming-ness")
      val q = out.writeStream.format("memory").queryName("ssasofsql")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val streamed = asTuples(s.table("ssasofsql")
          .filter(col("user_id") >= 0L))
        val batch = asTuples(batchEv08e)
        assert(streamed == batch && batch.nonEmpty,
          s"SQL streamed ${streamed.size} rows vs batch ${batch.size}")
        // INNER variant (`ASOF JOIN` without LEFT): unmatched probes
        // drop — the lowering's IsNotNull(build-time) filter on the
        // re-aliased output — so the stream must equal the batch
        // MATCHED rows exactly
        val outI = s.sql(
          s"""SELECT p_event_id AS event_id, p_user_id AS user_id,
             |  unix_micros(p_ts) AS us, unix_micros(v_ts) AS matched_us,
             |  v_event_id AS matched_event_id
             |FROM ss_purchases ASOF JOIN ss_views
             |ON p_user_id = v_user_id AND p_ts >= v_ts
             |TOLERANCE $tolUs""".stripMargin)
        assert(outI.isStreaming)
        val qI = outI.writeStream.format("memory").queryName("ssasofsqli")
          .outputMode("append").start()
        try {
          qI.processAllAvailable()
          val streamedI = asTuples(s.table("ssasofsqli")
            .filter(col("user_id") >= 0L))
          val batchI = batch.filter(_._4.isDefined)
          assert(streamedI == batchI && batchI.nonEmpty &&
            batchI.size < batch.size,
            s"SQL inner streamed ${streamedI.size} rows vs batch ${batchI.size}")
        } finally qI.stop()
      } finally q.stop()
    } finally {
      s.catalog.dropTempView("ss_purchases")
      s.catalog.dropTempView("ss_views")
    }
  }

  test("forward direction: streaming append-mode == batch " +
      "PlanBridge.asofJoin(forward, tolerance) on a tie-free build side") {
    // the generic tie rule (lexicographic extremum over the build
    // columns) only matters on (key, time) ties — stage the views
    // PRE-DEDUPED per (user, ts) to max event_id so batch and stream
    // agree without sharing a tie rule, then compare exactly
    val dir = tempDir("stream_asof_fwd")
    val ev = graft.Tables.load(spark, sf, "events")
    val dedupViews = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("event_id"))
      .select(col("event_id"), col("ts"), col("user_id"),
        lit("view").as("event_type"), lit(0.0).as("value"),
        lit(null).cast("string").as("props"))
    val purchases = ev.filter(col("event_type") === "purchase")
    def stage(df: DataFrame, name: String, mtime: Long): Unit = {
      val tmp = tempDir(s"stg_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
      val dst = dir.resolve(s"$name.parquet")
      java.nio.file.Files.copy(java.nio.file.Paths.get(part(0)), dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    import spark.implicits._
    val far = java.sql.Timestamp.valueOf("2024-08-01 00:00:00")
    val t0 = System.currentTimeMillis() - 3600000L
    stage(purchases, "1_p", t0)
    stage(dedupViews, "2_v", t0 + 60000L)
    stage(Seq(
      (-1L, far, -1L, "view", 0.0, null.asInstanceOf[String]),
      (-2L, far, -2L, "purchase", 0.0, null.asInstanceOf[String]))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      "3_s", t0 + 120000L)
    def side(t: String, prefix: String): DataFrame =
      EventsStream.readEvents(spark, dir.toString, maxFilesPerTrigger = 1)
        .filter(col("event_type") === t)
        .select(col("event_id").as(s"${prefix}_event_id"),
          col("ts").as(s"${prefix}_ts"),
          col("user_id").as(s"${prefix}_user_id"))
        .withWatermark(s"${prefix}_ts", "60 days")
    val out = StreamAsof.asofToleranceAppend(
      side("purchase", "p"), side("view", "v"),
      Seq("p_user_id" -> "v_user_id"), "p_ts", "v_ts", tolUs,
      direction = "forward")
      .select(col("p_event_id"), col("p_user_id"),
        unix_micros(col("p_ts")).as("us"),
        unix_micros(col("v_ts")).as("m_us"),
        col("v_event_id").as("m_id"))
    val q = out.writeStream.format("memory").queryName("ssfwd")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = asTuples(spark.table("ssfwd")
        .filter(col("p_user_id") >= 0L))
      // batch twin over the SAME staged parquet, forward + tolerance
      val pB = spark.read.parquet(dir.resolve("1_p.parquet").toString)
        .select(col("event_id").as("p_event_id"), col("ts").as("p_ts"),
          col("user_id").as("p_user_id"))
      val vB = spark.read.parquet(dir.resolve("2_v.parquet").toString)
        .select(col("event_id").as("v_event_id"), col("ts").as("v_ts"),
          col("user_id").as("v_user_id"))
      val batch = asTuples(org.apache.spark.sql.graft.PlanBridge.asofJoin(
        pB.withColumn("p_us", unix_micros(col("p_ts"))),
        vB.withColumn("v_us", unix_micros(col("v_ts"))),
        Seq("p_user_id" -> "v_user_id"), "p_us", "v_us",
        hint = "merge", direction = "forward", toleranceUs = tolUs)
        .select(col("p_event_id"), col("p_user_id"), col("p_us"),
          col("v_us"), col("v_event_id")))
      assert(streamed == batch && batch.nonEmpty,
        s"forward streamed ${streamed.size} vs batch ${batch.size}")
      assert(streamed.exists(_._4.isDefined), "no forward match at all")
    } finally q.stop()
  }

  test("KEYLESS stream-stream as-of (tolerance-bucketed key manufacture) " +
      "== batch keyless with tolerance; the SQL entry point agrees") {
    // global as-of: every purchase matched to the latest view of ANY
    // user within tolerance. Build side pre-reduced to one row per ts
    // (the batch keyless determinism contract) so batch and stream
    // need no shared tie rule.
    val dir = tempDir("stream_asof_kl")
    val ev = graft.Tables.load(spark, sf, "events")
    val dedupViews = ev.filter(col("event_type") === "view")
      .groupBy(col("ts"))
      .agg(max(struct(col("event_id"), col("user_id"))).as("m"))
      .select(col("m.event_id").as("event_id"), col("ts"),
        col("m.user_id").as("user_id"), lit("view").as("event_type"),
        lit(0.0).as("value"), lit(null).cast("string").as("props"))
    def stage(df: DataFrame, name: String, mtime: Long): Unit = {
      val tmp = tempDir(s"stgk_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
      val dst = dir.resolve(s"$name.parquet")
      java.nio.file.Files.copy(java.nio.file.Paths.get(part(0)), dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    import spark.implicits._
    val far = java.sql.Timestamp.valueOf("2024-08-01 00:00:00")
    val t0 = System.currentTimeMillis() - 3600000L
    stage(ev.filter(col("event_type") === "purchase"), "1_p", t0)
    stage(dedupViews, "2_v", t0 + 60000L)
    stage(Seq(
      (-1L, far, -1L, "view", 0.0, null.asInstanceOf[String]),
      (-2L, far, -2L, "purchase", 0.0, null.asInstanceOf[String]))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      "3_s", t0 + 120000L)
    def side(t: String, prefix: String): DataFrame =
      EventsStream.readEvents(spark, dir.toString, maxFilesPerTrigger = 1)
        .filter(col("event_type") === t)
        .select(col("event_id").as(s"${prefix}_event_id"),
          col("ts").as(s"${prefix}_ts"),
          col("user_id").as(s"${prefix}_user_id"))
        .withWatermark(s"${prefix}_ts", "60 days")
    val out = StreamAsof.asofToleranceAppendKeyless(
      side("purchase", "p"), side("view", "v"), "p_ts", "v_ts", tolUs)
      .select(col("p_event_id"), col("p_user_id"),
        unix_micros(col("p_ts")).as("us"),
        unix_micros(col("v_ts")).as("m_us"),
        col("v_event_id").as("m_id"))
    val q = out.writeStream.format("memory").queryName("sskl")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = asTuples(spark.table("sskl")
        .filter(col("p_user_id") >= 0L))
      // batch twin: the keyless bucket+carry composition over the SAME
      // staged parquet (LongType micros, its contract), same tolerance
      val pB = spark.read.parquet(dir.resolve("1_p.parquet").toString)
        .select(col("event_id").as("p_event_id"),
          col("user_id").as("p_user_id"),
          unix_micros(col("ts").cast("timestamp")).as("p_us"))
      val vB = spark.read.parquet(dir.resolve("2_v.parquet").toString)
        .select(col("event_id").as("v_event_id"),
          unix_micros(col("ts").cast("timestamp")).as("v_us"))
      val batch = asTuples(graft.plans.AsofKeyless.asofJoinKeyless(
        pB, vB, "p_us", "v_us", toleranceUs = tolUs)
        .select(col("p_event_id"), col("p_user_id"), col("p_us"),
          col("v_us"), col("v_event_id")))
      assert(streamed == batch && batch.nonEmpty,
        s"keyless streamed ${streamed.size} vs batch ${batch.size}")
      assert(streamed.exists(_._4.isDefined), "no keyless match at all")
      // SQL entry: keyless clause over two streaming views
      val s = spark.newSession()
      def sideOn(t: String, prefix: String): DataFrame =
        EventsStream.readEvents(s, dir.toString, maxFilesPerTrigger = 1)
          .filter(col("event_type") === t)
          .select(col("event_id").as(s"${prefix}_event_id"),
            col("ts").as(s"${prefix}_ts"),
            col("user_id").as(s"${prefix}_user_id"))
          .withWatermark(s"${prefix}_ts", "60 days")
      sideOn("purchase", "p").createOrReplaceTempView("sskl_p")
      sideOn("view", "v").createOrReplaceTempView("sskl_v")
      try {
        val sqlOut = s.sql(
          s"""SELECT p_event_id, p_user_id, unix_micros(p_ts) AS us,
             |  unix_micros(v_ts) AS m_us, v_event_id AS m_id
             |FROM sskl_p ASOF LEFT JOIN sskl_v ON p_ts >= v_ts
             |TOLERANCE $tolUs""".stripMargin)
        assert(sqlOut.isStreaming)
        val q2 = sqlOut.writeStream.format("memory").queryName("ssklsql")
          .outputMode("append").start()
        try {
          q2.processAllAvailable()
          val viaSql = asTuples(s.table("ssklsql")
            .filter(col("p_user_id") >= 0L))
          assert(viaSql == batch,
            s"SQL keyless streamed ${viaSql.size} vs batch ${batch.size}")
        } finally q2.stop()
        // INNER keyless variant: only the matched rows survive
        val sqlInner = s.sql(
          s"""SELECT p_event_id, p_user_id, unix_micros(p_ts) AS us,
             |  unix_micros(v_ts) AS m_us, v_event_id AS m_id
             |FROM sskl_p ASOF JOIN sskl_v ON p_ts >= v_ts
             |TOLERANCE $tolUs""".stripMargin)
        assert(sqlInner.isStreaming)
        val q3 = sqlInner.writeStream.format("memory").queryName("ssklsqli")
          .outputMode("append").start()
        try {
          q3.processAllAvailable()
          val viaSqlI = asTuples(s.table("ssklsqli")
            .filter(col("p_user_id") >= 0L))
          val batchI = batch.filter(_._4.isDefined)
          assert(viaSqlI == batchI && batchI.nonEmpty &&
            batchI.size < batch.size,
            s"SQL keyless inner streamed ${viaSqlI.size} vs batch ${batchI.size}")
        } finally q3.stop()
      } finally {
        s.catalog.dropTempView("sskl_p")
        s.catalog.dropTempView("sskl_v")
      }
    } finally q.stop()
  }

  test("KEYLESS stream-stream band == batch keyless band (bucket " +
      "manufacture, no aggregation — every match emitted exactly once)") {
    val lo = -1800L * 1000000L
    val out = StreamAsof.bandAppendKeyless(
      sideStream("purchase", "p"), sideStream("view", "v"),
      "p_ts", "v_ts", lo, 0L)
      .select(col("p_event_id"), col("v_event_id"))
    val q = out.writeStream.format("memory").queryName("ssbandkl")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssbandkl")
        .filter(col("p_event_id") >= 0L)
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
      // batch twin over the SAME staged parquet (keyless band is
      // replayed by the oracle-gated ev07e machinery)
      val pB = spark.read.parquet(
          java.nio.file.Paths.get(stagedDir, "1_purchases.parquet").toString)
        .select(col("event_id").as("p_event_id"),
          unix_micros(col("ts").cast("timestamp")).as("p_us"))
      val vB = spark.read.parquet(
          java.nio.file.Paths.get(stagedDir, "2_views.parquet").toString)
        .select(col("event_id").as("v_event_id"),
          unix_micros(col("ts").cast("timestamp")).as("v_us"))
      val batch = org.apache.spark.sql.graft.PlanBridge.bandJoinKeyless(
          pB, vB, "p_us", "v_us", lo, 0L)
        .select(col("p_event_id"), col("v_event_id"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
      // multiset equality (a band can emit several pairs per probe;
      // exactly-once replication is the claim under test)
      assert(streamed.groupBy(identity).view.mapValues(_.size).toMap ==
        batch.groupBy(identity).view.mapValues(_.size).toMap &&
        batch.nonEmpty,
        s"keyless band streamed ${streamed.size} pairs vs batch ${batch.size}")
      assert(streamed.exists(_._2.isDefined), "no band match at all")
    } finally q.stop()
  }

  test("SQL keyless BAND LEFT JOIN over two STREAMING views lowers to " +
      "bandAppendKeyless (round-16) and multiset-equals the batch keyless band") {
    val s = spark.newSession()
    def sideOn(t: String, prefix: String): DataFrame =
      EventsStream.readEvents(s, stagedDir, maxFilesPerTrigger = 1)
        .filter(col("event_type") === t)
        .select(col("event_id").as(s"${prefix}_event_id"),
          col("ts").as(s"${prefix}_ts"),
          col("user_id").as(s"${prefix}_user_id"))
        .withWatermark(s"${prefix}_ts", "60 days")
    sideOn("purchase", "p").createOrReplaceTempView("ssbkl_p")
    sideOn("view", "v").createOrReplaceTempView("ssbkl_v")
    try {
      // no key equality at all: the trailing-30-minute band IS the
      // manufactured key (INTERVAL arithmetic → lowUs/highUs)
      val out = s.sql(
        """SELECT p_event_id, v_event_id
          |FROM ssbkl_p BAND LEFT JOIN ssbkl_v
          |ON v_ts >= p_ts - INTERVAL 30 MINUTES AND v_ts <= p_ts""".stripMargin)
      assert(out.isStreaming, "SQL keyless streaming band lost streaming-ness")
      val q = out.writeStream.format("memory").queryName("ssbklsql")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val streamed = s.table("ssbklsql")
          .filter(col("p_event_id") >= 0L)
          .collect().map(r => (r.getLong(0),
            if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
        val pB = spark.read.parquet(
            java.nio.file.Paths.get(stagedDir, "1_purchases.parquet").toString)
          .select(col("event_id").as("p_event_id"),
            unix_micros(col("ts").cast("timestamp")).as("p_us"))
        val vB = spark.read.parquet(
            java.nio.file.Paths.get(stagedDir, "2_views.parquet").toString)
          .select(col("event_id").as("v_event_id"),
            unix_micros(col("ts").cast("timestamp")).as("v_us"))
        val batch = org.apache.spark.sql.graft.PlanBridge.bandJoinKeyless(
            pB, vB, "p_us", "v_us", -1800L * 1000000L, 0L)
          .select(col("p_event_id"), col("v_event_id"))
          .collect().map(r => (r.getLong(0),
            if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
        assert(streamed.groupBy(identity).view.mapValues(_.size).toMap ==
          batch.groupBy(identity).view.mapValues(_.size).toMap &&
          batch.nonEmpty,
          s"SQL keyless band ${streamed.size} pairs vs batch ${batch.size}")
        assert(streamed.exists(_._2.isDefined), "no band match at all")
        // INNER variant (`BAND JOIN` without LEFT): unmatched probes
        // drop — the lowering's IsNotNull(build-time) filter — so the
        // stream must equal the batch MATCHED pairs exactly
        val outI = s.sql(
          """SELECT p_event_id, v_event_id
            |FROM ssbkl_p BAND JOIN ssbkl_v
            |ON v_ts >= p_ts - INTERVAL 30 MINUTES AND v_ts <= p_ts""".stripMargin)
        assert(outI.isStreaming)
        val qI = outI.writeStream.format("memory").queryName("ssbklsqli")
          .outputMode("append").start()
        try {
          qI.processAllAvailable()
          val streamedI = s.table("ssbklsqli")
            .filter(col("p_event_id") >= 0L)
            .collect().map(r => (r.getLong(0), Some(r.getLong(1)))).toSeq
          val batchI = batch.filter(_._2.isDefined)
          assert(streamedI.groupBy(identity).view.mapValues(_.size).toMap ==
            batchI.groupBy(identity).view.mapValues(_.size).toMap &&
            batchI.nonEmpty,
            s"SQL keyless band INNER ${streamedI.size} vs batch ${batchI.size}")
        } finally qI.stop()
      } finally q.stop()
    } finally {
      s.catalog.dropTempView("ssbkl_p")
      s.catalog.dropTempView("ssbkl_v")
    }
  }

  test("streaming BAND JOIN rejects single-side ON conjuncts exactly like " +
      "batch; a keyless out-of-grammar shape gets the loud graft error " +
      "naming the Scala API, not Spark's opaque refusal") {
    val s = spark.newSession()
    def sideOn(t: String, prefix: String): DataFrame =
      EventsStream.readEvents(s, stagedDir, maxFilesPerTrigger = 1)
        .filter(col("event_type") === t)
        .select(col("event_id").as(s"${prefix}_event_id"),
          col("ts").as(s"${prefix}_ts"),
          col("user_id").as(s"${prefix}_user_id"))
        .withWatermark(s"${prefix}_ts", "60 days")
    sideOn("error", "e").createOrReplaceTempView("ssrj_e")
    sideOn("purchase", "b").createOrReplaceTempView("ssrj_b")
    try {
      // probe-only conjunct in ON: batch rejects this (under LEFT OUTER
      // it is NOT a filter); round 16 makes streaming agree instead of
      // silently accepting different semantics for the same text
      val e1 = intercept[IllegalArgumentException] {
        s.sql("""SELECT e_event_id, b_event_id
                |FROM ssrj_e BAND LEFT JOIN ssrj_b
                |ON e_user_id = b_user_id AND e_user_id > 0
                |AND b_ts >= e_ts - INTERVAL 30 MINUTES AND b_ts <= e_ts""".stripMargin)
          .queryExecution.analyzed
      }
      assert(e1.getMessage.contains("single-side conjuncts"),
        s"wrong refusal: ${e1.getMessage}")
      // keyless with only ONE bound: not a band, no key to manufacture —
      // the error must name the supported path, not Spark's generic
      // stream-stream-join-without-equality refusal
      val e2 = intercept[IllegalArgumentException] {
        s.sql("""SELECT e_event_id, b_event_id
                |FROM ssrj_e BAND LEFT JOIN ssrj_b
                |ON b_ts <= e_ts""".stripMargin)
          .queryExecution.analyzed
      }
      assert(e2.getMessage.contains("bandAppendKeyless"),
        s"wrong refusal: ${e2.getMessage}")
    } finally {
      s.catalog.dropTempView("ssrj_e")
      s.catalog.dropTempView("ssrj_b")
    }
  }

  test("unique-probe-row contract PINNED: fully-duplicate probe rows " +
      "collapse to one output row (the documented append-mode semantics)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    val tV = java.sql.Timestamp.valueOf("2024-01-01 11:50:00")
    val far = java.sql.Timestamp.valueOf("2024-08-01 00:00:00")
    val pIn = MemoryStream[(java.sql.Timestamp, Long)]
    val vIn = MemoryStream[(java.sql.Timestamp, Long)]
    // probe side has NO id column — two purchases by user 7 at the same
    // instant are fully identical rows, the shape the contract names
    val probe = pIn.toDF().toDF("p_ts", "p_user")
      .withWatermark("p_ts", "10 minutes")
    val build = vIn.toDF().toDF("v_ts", "v_id")
      .withWatermark("v_ts", "10 minutes")
    val out = StreamAsof.asofToleranceAppend(probe, build,
      Seq("p_user" -> "v_id"), "p_ts", "v_ts", tolUs)
    val q = out.writeStream.format("memory").queryName("ssdup")
      .outputMode("append").start()
    try {
      pIn.addData((t0, 7L), (t0, 7L))
      vIn.addData((tV, 7L))
      q.processAllAvailable()
      pIn.addData((far, -1L))
      vIn.addData((far, -2L))
      q.processAllAvailable()
      val rows = spark.table("ssdup").filter(col("p_user") === 7L).collect()
      // batch semantics would emit TWO identical matched rows; the
      // append-mode operator's group-by-probe-row collapses them to one
      // — this test pins that as the documented contract (see the
      // composition-time notice and the SQL TOLERANCE error text)
      assert(rows.length == 1,
        s"expected the documented collapse to ONE row, got ${rows.length}")
      assert(!rows(0).isNullAt(rows(0).fieldIndex("v_ts")),
        "the collapsed probe row lost its match")
    } finally q.stop()
  }

  test("stream-stream ASOF without TOLERANCE is refused loudly (SQL and " +
      "the operator itself)") {
    val e = intercept[IllegalArgumentException] {
      StreamAsof.asofToleranceAppend(
        sideStream("purchase", "p"), sideStream("view", "v"),
        Seq("p_user_id" -> "v_user_id"), "p_ts", "v_ts", toleranceUs = -1L)
    }
    assert(e.getMessage.contains("bounded-state"))
    val s = spark.newSession()
    // temp views are session-scoped: build the sides ON s
    def sideOn(t: String, prefix: String): DataFrame =
      EventsStream.readEvents(s, stagedDir, maxFilesPerTrigger = 1)
        .filter(col("event_type") === t)
        .select(col("event_id").as(s"${prefix}_event_id"),
          col("ts").as(s"${prefix}_ts"),
          col("user_id").as(s"${prefix}_user_id"))
        .withWatermark(s"${prefix}_ts", "60 days")
    sideOn("purchase", "p").createOrReplaceTempView("ssr_p")
    sideOn("view", "v").createOrReplaceTempView("ssr_v")
    try {
      val e2 = intercept[Exception] {
        s.sql("""SELECT * FROM ssr_p ASOF LEFT JOIN ssr_v
                |ON p_user_id = v_user_id AND p_ts >= v_ts""".stripMargin)
          .queryExecution.analyzed
      }
      assert(e2.getMessage.contains("TOLERANCE"),
        s"wrong refusal: ${e2.getMessage}")
    } finally {
      s.catalog.dropTempView("ssr_p")
      s.catalog.dropTempView("ssr_v")
    }
  }

  test("SQL BAND LEFT JOIN over two STREAMING views is the native " +
      "stream-stream interval join; counts equal the oracle-gated ev07") {
    val s = spark.newSession()
    def side(t: String, prefix: String): DataFrame =
      EventsStream.readEvents(s, stagedDir, maxFilesPerTrigger = 1)
        .filter(col("event_type") === t ||
          (col("event_type") === "view" && col("user_id") < 0L))
        .select(col("event_id").as(s"${prefix}_event_id"),
          col("ts").as(s"${prefix}_ts"),
          col("user_id").as(s"${prefix}_user_id"))
        .withWatermark(s"${prefix}_ts", "60 days")
    // errors probe purchases in the trailing 30-minute band (ev07's
    // shape); the view sentinel rides each side so both watermarks
    // advance past the corpus at the end
    side("error", "e").createOrReplaceTempView("ss_errors")
    side("purchase", "b").createOrReplaceTempView("ss_bpurch")
    try {
      val out = s.sql(
        """SELECT e_event_id, b_event_id
          |FROM ss_errors BAND LEFT JOIN ss_bpurch
          |ON e_user_id = b_user_id
          |AND b_ts >= e_ts - INTERVAL 30 MINUTES AND b_ts <= e_ts""".stripMargin)
      assert(out.isStreaming)
      val q = out.writeStream.format("memory").queryName("ssband")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // pairs → per-error purchase count (null b = unmatched = 0)
        val got = s.table("ssband").filter(col("e_event_id") >= 0L)
          .groupBy("e_event_id")
          .agg(count(col("b_event_id")).as("n"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val want = graft.queries.Events.queries("ev07_interval_join")(spark, sf)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(got == want && want.nonEmpty,
          s"SQL streaming band: ${got.size} errors vs batch ${want.size}")
        assert(got.values.exists(_ > 0L))
      } finally q.stop()
    } finally {
      s.catalog.dropTempView("ss_errors")
      s.catalog.dropTempView("ss_bpurch")
    }
  }
}
