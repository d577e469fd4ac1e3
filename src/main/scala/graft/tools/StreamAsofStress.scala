package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream-stream as-of/band state-boundedness stress — the empirical
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
  * Prints one JSON line. Run: tools/run.sh graft.tools.StreamAsofStress
  * [batches] [rowsPerBatch] (default 40 x 25000 = 1M probe events/leg).
  */
object StreamAsofStress {
  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(40)
    val rowsPer = args.lift(1).map(_.toInt).getOrElse(25000)
    val spark = graft.GraftSession(
      "spark.sql.shuffle.partitions" -> "8", // state stores = partitions
      // recentProgress must span every trigger of a leg (the emitted
      // count sums sink rows across it); default retention is 100
      "spark.sql.streaming.numRecentProgressUpdates" -> "10000")
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val tolUs = 1800L * 1000000L          // 30 min tolerance
    val stepUs = 600L * 1000000L          // each batch advances 10 min
    val t0 = 1700000000L * 1000000L       // fixed epoch base (determinism)
    val users = 512L

    def timed[A](f: => A): (A, Double) = {
      val v0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - v0) / 1e9)
    }

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
      val out = mk(probe, build)
      val q = out.writeStream.format("noop")
        .queryName(name).outputMode("append").start()
      val states = scala.collection.mutable.ArrayBuffer[Long]()
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
      // emitted rows: re-run the sink side effect through a counter —
      // noop discards rows, so count via recentProgress sink numbers
      val emitted = q.recentProgress.map(_.sink.numOutputRows)
        .filter(_ >= 0).sum
      q.stop()
      (states.toSeq, emitted, secs)
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
    require(nBatches >= 10, s"need >= 10 batches for the gates, got $nBatches")
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

    val thrA = (totalIn / secA).toLong
    val thrB = (totalIn / secB).toLong
    println(s"""{"tool":"StreamAsofStress","batches":$nBatches,""" +
      s""""rows_per_batch":$rowsPer,"total_rows":$totalIn,""" +
      s""""asof_state_early":$earlyA,"asof_state_late":$lateA,""" +
      s""""asof_emitted":$emittedA,"asof_rows_per_sec":$thrA,""" +
      s""""band_state_early":$earlyB,"band_state_late":$lateB,""" +
      s""""band_emitted":$emittedB,"band_rows_per_sec":$thrB,""" +
      s""""state_bounded":true}""")
    spark.stop()
  }
}
