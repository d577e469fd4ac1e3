package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreWriter
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreId,
  StateStoreProviderId}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.tools.Scale.timed

/** Stream-stream as-of/band state-boundedness gate — the empirical
  * check behind the operator family's central scale claim ("state is
  * bounded by tolerance + watermark, never by key lifetime or
  * history", StreamAsof.scala): feed a long synthetic event history
  * through the append-mode operators in many micro-batches with
  * monotonically advancing event time, and measure the state-store row
  * count per trigger from `StreamingQueryProgress.stateOperators`.
  * If state were keyed by history (the naive formulation), rows would
  * grow linearly with batches; with the tolerance/watermark bounds
  * they must PLATEAU at the steady-state occupancy (watermark delay +
  * tolerance + emit-window worth of events), no matter how much
  * history has flowed.
  *
  * Gates (asserted, not just printed):
  *  1. PLATEAU — max state rows over the last quarter of batches must
  *     be within 1.5x of the max over the second quarter (by then the
  *     watermark horizon is full, so growth past that factor means
  *     state leaks with history);
  *  2. SANITY — the last-quarter max must fit a CONSTANT number of
  *     batches' worth of input (the watermark + tolerance + emit-window
  *     horizon), independent of how much history has flowed;
  *  3. CORRECTNESS RIDE-ALONG — emitted probe rows cover at least
  *     every emit window the final watermark provably closed (lag =
  *     ~2 batches of propagation + the join's tolerance-widened
  *     watermark delay) and never exceed the probe count.
  *
  * Covers the keyed as-of (`asofToleranceAppend`) and the keyless
  * band (`bandAppendKeyless` — the bucket-manufactured join, whose
  * build rows replicate to <= 3 buckets: the state plateau also
  * verifies the replication constant does not compound over time).
  *
  * Size = probe events per leg (default 1M): size/25000 batches,
  * clamped to [10, 40] (the as-of state plateaus by the fifth batch,
  * so the second quarter of 10 already sees it), of size/batches probe
  * rows each, over one state-store partition per 3125 rows of a batch
  * (at most 8) — 40 x 25000 over 8 partitions by default. Results in
  * docs/ROUND16.md.
  */
private[tools] object StreamAsofGate {

  def run(spark: SparkSession, size: Long): Scale.Measures = {
    val nBatches = math.min(40L, math.max(10L, size / 25000)).toInt
    val rowsPer = (size / nBatches).toInt
    // state stores = partitions
    spark.conf.set("spark.sql.shuffle.partitions",
      math.min(8, math.max(1, rowsPer / 3125)).toString)
    // recentProgress must span every trigger of a leg (the emitted
    // count sums sink rows across it); default retention is 100
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val tolUs = 1800L * 1000000L          // 30 min tolerance
    val stepUs = 600L * 1000000L          // each batch advances 10 min
    val t0 = 1700000000L * 1000000L       // fixed epoch base (determinism)
    val users = 512L

    /** Drive `out` batch by batch; returns (state rows per trigger,
      * emitted rows, wall seconds). Each batch lands `rowsPer` probe
      * rows and `rowsPer/4` build rows spread uniformly over its
      * 10-minute window; event time advances monotonically so the
      * watermark (5 min delay) trails ~one batch behind. */
    def drive(name: String,
        mk: (DataFrame, DataFrame) => DataFrame): (Seq[Long], Long, Double) = {
      val pIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
      val bIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
      val probe = pIn.toDF().toDF("p_id", "p_ts", "p_user")
        .withWatermark("p_ts", "5 minutes")
      val build = bIn.toDF().toDF("b_id", "b_ts", "b_user")
        .withWatermark("b_ts", "5 minutes")
      // the gate's own checkpoint dir, removed with the query stopped and
      // its state stores unloaded: Spark's temporary one is left in the
      // temp dir until the JVM exits when the stop interrupts a running
      // batch
      Scale.withTempDir("scale_stream_asof") { ckpt =>
        val q = mk(probe, build).writeStream.format("noop")
          .option("checkpointLocation", ckpt)
          .queryName(name).outputMode("append").start()
        val states = scala.collection.mutable.ArrayBuffer[Long]()
        try {
          val (_, secs) = timed {
            var id = 0L
            (0 until nBatches).foreach { b =>
              val base = t0 + b * stepUs
              def ts(i: Int, n: Int) =
                new java.sql.Timestamp((base + i.toLong * stepUs / n) / 1000L)
              pIn.addData((0 until rowsPer).map { i =>
                id += 1; (id, ts(i, rowsPer), i % users)
              })
              bIn.addData((0 until rowsPer / 4).map { i =>
                id += 1; (id, ts(i, rowsPer / 4), i % users)
              })
              q.processAllAvailable()
              val p = q.lastProgress
              if (p != null && p.stateOperators.nonEmpty)
                states += p.stateOperators.map(_.numRowsTotal).sum
            }
          }
          // noop discards rows, so count emitted rows via the
          // recentProgress sink numbers
          val emitted = q.recentProgress.map(_.sink.numOutputRows)
            .filter(_ >= 0).sum
          (states.toSeq, emitted, secs)
        } finally {
          q.stop()
          unloadStateStores(q)
        }
      }
    }

    def gates(label: String, states: Seq[Long], perBatch: Long): (Long, Long) = {
      require(states.size >= 8, s"$label: too few state samples: $states")
      val q2 = states.slice(states.size / 4, states.size / 2)
      val q4 = states.slice(3 * states.size / 4, states.size)
      val early = q2.max
      val late = q4.max
      assert(late <= math.max(1L, (1.5 * early).toLong),
        s"$label STATE LEAKS WITH HISTORY: early-plateau max $early, " +
          s"late max $late over ${states.size} triggers: $states")
      // the scale-principled bound: state holds a CONSTANT number of
      // batches' worth (the watermark[0.5] + tolerance[3] + emit-window
      // horizon, ~4.6 batches measured for the as-of), independent of
      // how many batches of history have flowed — 8 is the generous
      // ceiling that still catches any per-history growth
      assert(late <= 8L * perBatch,
        s"$label state ($late rows) exceeds 8 batches' worth " +
          s"($perBatch rows/batch) — growing with history")
      (early, late)
    }

    // ---- keyed as-of (append mode) ----
    val totalProbe = nBatches.toLong * rowsPer
    val totalIn = totalProbe + nBatches.toLong * (rowsPer / 4)
    val (stA, emittedA, secA) = drive("ssa_stress", (p, b) =>
      graft.streaming.StreamAsof.asofToleranceAppend(
        p, b, Seq("p_user" -> "b_user"), "p_ts", "b_ts", tolUs,
        emitWindow = "10 minutes"))
    val perBatch = rowsPer.toLong + rowsPer / 4
    val (earlyA, lateA) = gates("keyed as-of", stA, perBatch)
    // append-mode exactness: every probe row whose emit window closed
    // under the final watermark emitted exactly once. The emission lag
    // is watermark propagation (~2 batches) PLUS the join's watermark
    // delay — a time-interval join widens the downstream watermark by
    // the interval bound, here the 30-min tolerance = 3 batches
    // (measured total lag ~4.3 batches) — so require the windows
    // through nBatches-7 closed, with the rest still in flight.
    val minEmitted = (nBatches - 7).toLong * rowsPer
    assert(emittedA >= minEmitted && emittedA <= totalProbe,
      s"keyed as-of emitted $emittedA of $totalProbe probe rows " +
        s"(expected >= $minEmitted closed windows, <= total)")

    // ---- keyless band (bucket manufacture) ----
    // band [-6 s, 0]: bucket width 6 s, build rows replicate <= 3x.
    // The width keeps the OUTPUT tractable (a keyless band emits every
    // in-band pair: build rate ~10 rows/s x 6 s ~ 60 pairs per probe);
    // state boundedness is width-independent — it rides the watermark.
    val (stB, emittedB, secB) = drive("ssb_stress", (p, b) =>
      graft.streaming.StreamAsof.bandAppendKeyless(
        p, b, "p_ts", "b_ts", -6L * 1000000L, 0L))
    val (earlyB, lateB) = gates("keyless band", stB, perBatch)
    assert(emittedB > 0, "keyless band emitted nothing")

    Seq("batches" -> nBatches, "rows_per_batch" -> rowsPer, "total_rows" -> totalIn,
      "asof_state_early" -> earlyA, "asof_state_late" -> lateA,
      "asof_emitted" -> emittedA, "asof_rows_per_sec" -> (totalIn / secA).toLong,
      "band_state_early" -> earlyB, "band_state_late" -> lateB,
      "band_emitted" -> emittedB, "band_rows_per_sec" -> (totalIn / secB).toLong,
      "state_bounded" -> true)
  }

  /** Unloads the stopped query `q`'s state-store providers, each after a
    * last maintenance pass: a background maintenance pass would otherwise
    * still write a snapshot into the checkpoint dir once it is deleted.
    * Only `q`'s providers: other queries may run in this JVM meanwhile.
    * The store names of an operator's partition are the subdirectories
    * of its checkpoint dir, besides the default store. */
  private def unloadStateStores(q: StreamingQuery): Unit = {
    val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
    for {
      ex <- Option(exec.lastExecution).toSeq
      info <- ex.executedPlan.collect { case w: StateStoreWriter => w.stateInfo }.flatten
      part <- 0 until info.numPartitions
      dir = new Path(info.checkpointLocation, s"${info.operatorId}/$part")
      fs = dir.getFileSystem(ex.sparkSession.sessionState.newHadoopConf())
      name <- StateStoreId.DEFAULT_STORE_NAME +: (if (fs.exists(dir))
        fs.listStatus(dir).filter(_.isDirectory).map(_.getPath.getName).toSeq else Nil)
      id = StateStoreProviderId(
        StateStoreId(info.checkpointLocation, info.operatorId, part, name), info.queryRunId)
      if StateStore.isLoaded(id)
    } StateStore.doMaintenanceAndUnload(id)
  }
}
