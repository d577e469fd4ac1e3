package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{IvfIndex, Similarity}
import graft.tools.Scale.timed

/** Incremental-IVF gate (the select gate's pattern applied to round
  * 14's ss11 append path): a synthetic clustered corpus far above
  * sf0.1 at the default size, on which the append path's two claims
  * are CHECKED, not assumed:
  *
  *  1. ECONOMICS — absorbing a 10% batch via [[graft.ops.IvfIndex
  *     .append]] (assign under frozen centroids + dynamic partition
  *     append) must cost well under a full rebuild (train + rewrite of
  *     every posting list). This is the entire reason the operator
  *     exists: at 100 TB the standing posting lists must never be
  *     rewritten for a daily crawl. A wall-clock comparison, so it is
  *     asserted at the full size only, where it is not scheduling noise.
  *  2. QUALITY — recall@10 of the appended index (centroids that never
  *     saw the batch) must stay within a small delta of the
  *     fully-rebuilt index's recall on the SAME probes. The corpus is
  *     64 planted clusters (inter-center distance >> jitter), and both
  *     the standing 90% and the batch 10% cover every cluster, so a
  *     frozen quantizer remains representative — the realistic
  *     same-distribution daily-crawl regime qa11 audits at the SFs.
  *
  * Vectors generate MAP-SIDE from spark.range (no shuffle, nothing
  * collected): vector id → cluster id % C, coordinate j = planted
  * center (hash-derived in [-100, 100]) + jitter in [-5, 5]. Probes =
  * the first 10 vectors; ground truth = exact brute-force cosine
  * top-10 (one corpus scan per run, window top-k).
  *
  * Size = nVecs (default 500000). Results in docs/ROUND14.md.
  */
private[tools] object IvfGate {

  def run(spark: SparkSession, nVecs: Long): Scale.Measures =
    Scale.withTempDir("scale_ivf") { root =>
      // one fresh directory per index under the gate's own root
      var dirs = 0
      def newDir(): String = { dirs += 1; s"$root/index_$dirs" }

      // 64 planted clusters in 64 dims: centers hash-derived per
      // (cluster, coord) in [-100, 100], jitter per (vector, coord) in
      // [-5, 5] — inter-center structure dominates jitter, so cell
      // assignment is meaningful and recall is a real signal, not noise
      val C = 64
      val all = spark.range(nVecs)
        .select(col("id").as("vec_id"),
          expr(s"""transform(sequence(0, 63), j -> CAST(
            (pmod(hash(id % $C, j), 201) - 100) +
            (pmod(hash(id, j), 11) - 5) AS FLOAT))""").as("embedding"))
      val standing = all.filter(col("vec_id") % 10 =!= 0)
      val batch = all.filter(col("vec_id") % 10 === 0)

      // exact ground truth: brute-force cosine top-10 for the 10 probes
      val exact = Similarity.topK(Similarity.queryPairs(all, all.filter(col("vec_id") < 10))
          .withColumn("cos",
            graft.functions.VectorOps.cosine(col("embedding"), col("q_vec"))),
          col("q_id"), 10, "rank", col("cos").desc, col("vec_id"))
        .select(col("q_id"), col("vec_id"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val (_, tExact) = timed(exact.count())

      def recallOf(ann: DataFrame): Double = {
        val hit = exact.join(ann.select(col("q_id"), col("vec_id")),
          Seq("q_id", "vec_id"), "left_semi").count()
        hit.toDouble / exact.count()
      }

      // full rebuild: train on EVERYTHING, write every posting list
      val (idxFull, tRebuild) = timed(IvfIndex.build(spark, all, newDir()))
      // a fresh frozen index over `all` for a scenario that appends to
      // it: the full build's centroids (training is deterministic, so a
      // rebuild would train the same ones) over its own posting lists
      def frozenCopy() = {
        val idx = IvfIndex.Index(newDir(), idxFull.centroids)
        IvfIndex.append(spark, idx, all)
        idx
      }
      val recallFull = recallOf(
        IvfIndex.probe(spark, idxFull, all.filter(col("vec_id") < 10)))

      // standing build once (the amortized base the daily crawl lands on)
      val (idxInc, tStanding) = timed(IvfIndex.build(spark, standing, newDir()))
      // the measured operation: absorb the 10% batch under frozen centroids
      val (_, tAppend) = timed(IvfIndex.append(spark, idxInc, batch))
      val nMerged = spark.read.parquet(idxInc.dir).count()
      assert(nMerged == nVecs, s"merged index holds $nMerged of $nVecs rows")
      val annInc = IvfIndex.probe(spark, idxInc, all.filter(col("vec_id") < 10))
      // appended vectors must be SEARCHABLE (vec_id % 10 == 0 appears)
      assert(annInc.filter(col("vec_id") % 10 === 0).count() > 0,
        "probe never returns appended vectors")
      val recallInc = recallOf(annInc)

      // quality gate: frozen centroids on a same-distribution batch must
      // not collapse recall (generous bound — the planted clusters make
      // both recalls high and close)
      assert(recallInc >= recallFull - 0.15,
        s"append recall $recallInc collapsed vs rebuild $recallFull")
      // economics gate: the append must beat re-running the full build
      if (nVecs >= Scale.gates("ivf").size)
        assert(tAppend < tRebuild,
          s"append ($tAppend s) is not cheaper than a full rebuild ($tRebuild s)")

      // ---- planted-drift scenario (round-15): gate fires, rebuild
      // recovers. Floor 0.9 throughout — healthy recall on planted
      // clusters is 1.000 (the scenario above), so 0.9 marks a real
      // loss. The same-distribution regime never drifts — the no-fire
      // control is asserted on it first.
      val stOk = IvfIndex.driftStatus(spark, all, idxInc,
        all.filter(col("vec_id") < 10), floor = 0.9)
      assert(!stOk.drifted,
        s"same-distribution append read as drifted: $stOk")

      // Drift plant (geometry swept in round 15 — an isotropic blob
      // never RECOVERS because its centroid is degenerate, and a tight
      // far cluster never FIRES because it lands in one stable cone):
      // one DIRECTIONAL cluster at the JUNCTION of the frozen cells —
      // center = the mean of the trained centroids, where the margins
      // between cells are smallest. Under the frozen quantizer the
      // members scatter across many cells on jitter (measured: frozen
      // recall 0.83 at 100k at jitter ±15) while a rebuilt quantizer
      // carves the cluster into its own cells and recall returns to 1.0.
      // Drift = 25% of the corpus so the rebuilt trainer's hash-ordered
      // seeds reliably sample it.
      val nDrift = math.max(nVecs / 4, 1000L)
      val ctr: Array[Double] = {
        val cs = idxFull.centroids.map(_._2)
        Array.tabulate(64)(j => cs.map(_(j).toDouble).sum / cs.size)
      }
      val ctrLit = ctr.map(x => f"CAST($x%.4f AS DOUBLE)")
        .mkString("array(", ",", ")")
      // The plant's width is SELF-CALIBRATING: how wide the cluster must
      // be to straddle multiple frozen cells depends on the trained
      // centroid geometry around the junction (a fixed ±15 fired at 100k
      // but concentrated into probed cells at 500k — the junction's
      // multi-cell margin is not corpus-invariant), so escalate the
      // jitter ×2 from an angular-scaled start until the gate fires.
      // Recovery stays meaningful at any width that fires: the center is
      // NONZERO, so the rebuilt quantizer's drift cells carve the blob
      // into angular sectors with non-degenerate centroids (the failure
      // mode that killed the isotropic-blob variant was a center of ~0).
      val ctrNorm = math.sqrt(ctr.map(x => x * x).sum)
      def driftAt(jit: Long) = spark.range(nDrift)
        .select((col("id") + 10000000L).as("vec_id"),
          expr(s"""transform(sequence(0, 63), j -> CAST(
            element_at($ctrLit, j + 1) +
            (pmod(hash(id + 10000000, j, 7), ${2 * jit + 1}) - $jit) AS FLOAT))""")
            .as("embedding"))
      // one try: a fresh frozen index (append mutates the posting dirs)
      // absorbs the plant at jitter `jit`, then the gate audits it
      def attempt(jit: Long) = {
        val plant = driftAt(jit)
        val idx = frozenCopy()
        val (_, tA) = timed(IvfIndex.append(spark, idx, plant))
        val (st, tG) = timed(IvfIndex.driftStatus(spark, all.unionByName(plant), idx,
          plant.filter(col("vec_id") < 10000010L), floor = 0.9))
        (jit, plant, idx, st, tA, tG)
      }
      // the first try that fires, else the fifth: the failure message
      // reports the last jitter actually planted
      val ((jit, driftVecs, idxFired, stFrozen, tDriftAppend, tGate), tried) =
        Iterator.iterate(math.max(4L, math.round(ctrNorm / 6.0)))(_ * 2).map(attempt)
          .zipWithIndex.find { case (t, i) => t._4.drifted || i == 4 }.get
      assert(stFrozen.drifted,
        s"planted drift never fired the gate up to tested jitter $jit: $stFrozen")
      val merged2 = all.unionByName(driftVecs)
      val dq = driftVecs.filter(col("vec_id") < 10000010L)
      val ((stRe, rebuilt), tReDrift) = timed(IvfIndex
        .rebuildIfDrifted(spark, "unmanaged", merged2, idxFired, dq,
          floor = 0.9))
      assert(stRe.drifted && rebuilt.isDefined, "drift rebuild never ran")
      val stAfter = IvfIndex.driftStatus(spark, merged2,
        rebuilt.get, dq, floor = 0.9)
      assert(!stAfter.drifted && stAfter.recall.exists(_ >= 0.9),
        s"drift rebuild did not recover recall: $stAfter")

      // ---- ingest-cadence path (round-16): the SAME calibrated plant
      // delivered through the append auditor in two batches with
      // auditEvery=2 — the off-cadence append must stay silent, the
      // on-cadence one must run the audit and fire the gate without any
      // external scheduler calling driftStatus.
      val idxAud = frozenCopy()
      val auditor = new IvfIndex.AppendAuditor(spark, idxAud,
        every = 2, floor = 0.9)
      assert(auditor.append(driftVecs.filter(col("vec_id") % 2 === 0)).isEmpty,
        "off-cadence append ran an audit")
      val (stAud, tAudit) = timed(
        auditor.append(driftVecs.filter(col("vec_id") % 2 === 1)))
      assert(stAud.exists(_.drifted),
        s"cadence audit did not fire on the calibrated plant: $stAud")
      assert(auditor.appendCount == 2 && auditor.auditsRun == 1,
        s"cadence bookkeeping: ${auditor.appendCount} appends, " +
          s"${auditor.auditsRun} audits")
      exact.unpersist()

      Seq("n_vecs" -> nVecs, "clusters" -> C,
        "recall_full" -> recallFull, "recall_appended" -> recallInc,
        "rebuild_sec" -> tRebuild, "standing_build_sec" -> tStanding,
        "append_sec" -> tAppend, "exact_scan_sec" -> tExact,
        "n_drift" -> nDrift, "recall_frozen_drift" -> stFrozen.recall.get,
        "recall_rebuilt_drift" -> stAfter.recall.get,
        "drift_append_sec" -> tDriftAppend, "drift_gate_sec" -> tGate,
        "drift_rebuild_sec" -> tReDrift, "drift_jitter" -> jit,
        "drift_jitter_tries" -> (tried + 1),
        "audit_cadence_sec" -> tAudit, "audit_fired" -> true)
    }
}
