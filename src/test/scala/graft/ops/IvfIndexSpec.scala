package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The persisted IVF index must (a) return the same results as the inline
  * assign-per-run formulation and (b) actually prune: a probe's parquet
  * scan over the index reads only the probed cells' partitions, not the
  * whole table. */
class IvfIndexSpec extends SparkSpec {

  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
    case _ => p +: p.children.flatMap(walk)
  }

  private def emb = graft.Tables.load(spark, sf, "embeddings")
    .select(col("vec_id"), col("embedding"))

  test("probe scans only the probed cells' partitions") {
    // Round 17: the pruning is DYNAMIC partition pruning (no
    // construct-time collect), so the plan must carry a
    // dynamicpruning partition filter and the RUNTIME partition-read
    // metric — not the static selectedPartitions — must show the scan
    // opened fewer cells than the index holds.
    val index = IvfIndex.builtFor(spark, sf)
    val out = IvfIndex.probe(spark, index, emb.filter(col("vec_id") < 10))
    out.write.format("noop").mode("overwrite").save()
    val scans = walk(out.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(index.dir)) => f
    }
    assert(scans.nonEmpty, "no parquet scan over the index dir in the probe plan")
    assert(scans.exists(_.partitionFilters.exists(
        _.toString.contains("dynamicpruning"))),
      "posting scan lost its dynamic partition-pruning filter — at scale " +
        "the probe would read the whole index: " +
        scans.map(_.partitionFilters).mkString("; "))
    // 10 queries x nprobe 3 gives at most 30 (deduped, usually ~6-10)
    // probed cells out of k; the scan must not touch all k partitions
    val selected = scans.map(_.metrics("numPartitions").value).max
    assert(selected < index.k,
      s"probe scan read $selected of ${index.k} cells — no partition pruning")
    val totalCells = spark.read.parquet(index.dir)
      .select(col("c_id")).distinct().count()
    assert(selected < totalCells,
      s"probe reads every populated cell ($selected of $totalCells)")
  }

  test("append adds new vectors to their cells without rebuilding; probes see them") {
    val dir = tempDir("graft_ivf_append").toString
    val first = emb.filter(col("vec_id") % 2 === 0)
    val second = emb.filter(col("vec_id") % 2 === 1)
    val index = IvfIndex.build(spark, first, dir)
    IvfIndex.append(spark, index, second)
    // the index now holds the full corpus, assigned with the ORIGINAL
    // centroids (no retrain — posting lists stay valid)
    assert(spark.read.parquet(index.dir).count() == emb.count())
    val out = IvfIndex.probe(spark, index, emb.filter(col("vec_id") < 10))
    assert(out.filter(col("vec_id") % 2 === 1).count() > 0,
      "probe never sees the appended vectors")
  }

  test("drift gate: an unseen-distribution append fires below the floor, " +
      "rebuildIfDrifted recovers recall, a same-distribution append does " +
      "not fire") {
    import spark.implicits._
    // planted-drift geometry (swept empirically in round 15 — a tight
    // cluster anywhere, even far outside the standing hull, assigns to
    // 1-2 stable cells which nprobe=3 covers, recall 1.0): a WIDE blob
    // at the interior mean of the standing centers — the resolution
    // hole where the frozen centroids are near-equidistant, so the
    // blob's jitter decides cell membership and members spread over ~7
    // cells; a drift query probes 3 of 16 and misses a third of its
    // true neighbors (frozen recall 0.64, measured). At THIS corpus
    // size the retrained quantizer restores recall to 1.0 (600
    // members' neighborhoods fit inside the retrained hole cells); at
    // gate scale the same blob is unrecoverable (its centroid is
    // direction-degenerate) and the recoverable plant is a DIRECTIONAL
    // cluster at the cell junction — the `ivf` scale gate carries it.
    val rnd = new scala.util.Random(7)
    def center() = Array.fill(64)(rnd.nextInt(201) - 100)
    def member(c: Array[Double], jit: Int, seed: Long): Seq[Float] = {
      val r = new scala.util.Random(seed)
      c.map(x => (x + r.nextInt(2 * jit + 1) - jit).toFloat).toSeq
    }
    val standCenters = Array.fill(16)(center().map(_.toDouble))
    val standing = (0L until 2000L)
      .map(i => (i, member(standCenters((i % 16).toInt), 5, i)))
      .toDF("vec_id", "embedding")
    val dir = tempDir("graft_ivf_drift").toString
    val idx = IvfIndex.build(spark, standing, dir)
    val hole = Array.tabulate(64)(j => standCenters.map(_(j)).sum / 16)
    val drift = (0L until 600L)
      .map(i => (10000L + i, member(hole, 40, 100000L + i)))
      .toDF("vec_id", "embedding")
    IvfIndex.append(spark, idx, drift)
    val all = standing.unionByName(drift)
    val driftQueries = drift.filter(col("vec_id") < 10010L)
    val st = IvfIndex.driftStatus(spark, all, idx, driftQueries, floor = 0.9)
    assert(st.drifted && st.nQueries == 10,
      s"planted drift did not fire the gate: $st")
    // rebuild: retrained centroids resolve the hole region — recall
    // on the SAME queries recovers above the floor
    val (st2, rebuilt) = IvfIndex.rebuildIfDrifted(spark, sf, all, idx,
      driftQueries, floor = 0.9)
    assert(st2.drifted && rebuilt.isDefined, "rebuild never triggered")
    val after = IvfIndex.driftStatus(spark, all, rebuilt.get, driftQueries,
      floor = 0.9)
    assert(!after.drifted && after.recall.exists(_ >= 0.9),
      s"rebuilt index did not recover recall: $after")
    // control: a same-distribution append (clustered standing corpus,
    // batch from the SAME clusters) stays healthy — no fire, no rebuild
    val cents16 = Array.fill(16)(center().map(_.toDouble))
    val cStanding = (0L until 2000L)
      .map(i => (i, member(cents16((i % 16).toInt), 5, 5000L + i)))
      .toDF("vec_id", "embedding")
    val cBatch = (0L until 200L)
      .map(i => (20000L + i, member(cents16((i % 16).toInt), 5, 7000L + i)))
      .toDF("vec_id", "embedding")
    val dir2 = tempDir("graft_ivf_nodrift").toString
    val idx2 = IvfIndex.build(spark, cStanding, dir2)
    IvfIndex.append(spark, idx2, cBatch)
    val all2 = cStanding.unionByName(cBatch)
    val (stOk, rebuiltOk) = IvfIndex.rebuildIfDrifted(spark, sf, all2, idx2,
      cBatch.filter(col("vec_id") < 20010L), floor = 0.9)
    assert(!stOk.drifted && rebuiltOk.isEmpty,
      s"same-distribution append read as drifted: $stOk")
  }

  // shared planted-cluster generators for the round-16 tests (same
  // geometry as the drift-gate test above: 16 well-separated centers,
  // jitter << inter-center distance, hole blob at the interior mean)
  private def mkCenter(rnd: scala.util.Random): Array[Double] =
    Array.fill(64)((rnd.nextInt(201) - 100).toDouble)
  private def mkMember(c: Array[Double], jit: Int, seed: Long): Seq[Float] = {
    val r = new scala.util.Random(seed)
    c.map(x => (x + r.nextInt(2 * jit + 1) - jit).toFloat).toSeq
  }

  test("current-alias indirection (round-16): a drift republish swaps " +
      "the pointer atomically, standing currentFor readers pick up the " +
      "rebuild with no re-plumbing, and a FAILED republish leaves the " +
      "old index serving") {
    val root = tempDir("graft_ivf_root").toString
    val corpusDir = tempDir("graft_ivf_corpus").toString
    emb.write.mode("overwrite").parquet(corpusDir + "/embeddings.parquet")
    // per-session conf (the IndexStoreSpec discipline): suites may run
    // in parallel in this JVM, and setting the root on the SHARED
    // session would flip every concurrently-building index to managed
    val s = graft.SparkSpec.session.newSession()
    s.conf.set(graft.IndexStore.RootKey, root)
    val embS = graft.Tables.load(s, corpusDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val idx0 = IvfIndex.builtForAppend(s, corpusDir)
    // no pointer published yet: currentFor serves the standing index
    val before = IvfIndex.currentFor(s, corpusDir)
    assert(before.dir == idx0.dir,
      s"pre-rebuild currentFor should be the standing index: " +
        s"${before.dir} vs ${idx0.dir}")
    // FAILED republish (empty corpus → the build closure throws →
    // IndexStore abort): the pointer must stay untouched and readers
    // must keep getting the old index — the crash-mid-rebuild contract
    intercept[Exception] {
      IvfIndex.republishDrifted(s, corpusDir,
        embS.filter(col("vec_id") < 0))
    }
    assert(graft.IndexStore.readCurrent(s, corpusDir,
      IvfIndex.CurrentAlias).isEmpty,
      "a failed republish must not publish the pointer")
    assert(IvfIndex.currentFor(s, corpusDir).dir == idx0.dir,
      "a failed republish changed what readers see")
    // successful republish: pointer lands on the rebuilt lineage and
    // BOTH a reader that resolved before and one resolving now get it
    val rebuilt = IvfIndex.republishDrifted(s, corpusDir, embS)
    assert(graft.IndexStore.readCurrent(s, corpusDir,
      IvfIndex.CurrentAlias).contains(IvfIndex.RebuiltStore))
    val after = IvfIndex.currentFor(s, corpusDir)
    assert(after.dir == rebuilt.dir && after.dir != idx0.dir,
      s"currentFor did not pick up the rebuild: ${after.dir}")
    // the rebuilt index actually serves probes
    assert(IvfIndex.probe(s, after,
      embS.filter(col("vec_id") < 5)).count() > 0)
    // STALE pointer: mutate the corpus AFTER the rebuild — a reader
    // must fail loudly (peekFresh), never silently serve the old
    // answers nor silently rebuild without the build-lock discipline
    graft.Tables.load(s, corpusDir, "embeddings")
      .filter(col("vec_id") < 50)
      .write.mode("overwrite").parquet(corpusDir + "/embeddings_tmp.parquet")
    val base = java.nio.file.Paths.get(corpusDir)
    def rmTree(p: java.nio.file.Path): Unit =
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(q => java.nio.file.Files.delete(q))
    rmTree(base.resolve("embeddings.parquet"))
    java.nio.file.Files.move(base.resolve("embeddings_tmp.parquet"),
      base.resolve("embeddings.parquet"))
    // out-of-band mutation: Spark's FileStatusCache still lists the
    // deleted part files — refresh, as any out-of-band writer must
    s.catalog.refreshByPath(corpusDir + "/embeddings.parquet")
    val e = intercept[IllegalStateException] {
      IvfIndex.currentFor(s, corpusDir)
    }
    assert(e.getMessage.contains("STALE"),
      s"wrong stale refusal: ${e.getMessage}")
  }

  test("unmanaged current pointer: a drift republish updates the " +
      "session-scoped alias currentFor serves") {
    // no index root: republish lands in a temp dir and the pointer is
    // the session-scoped cache (the unmanaged contract)
    val corpusDir = tempDir("graft_ivf_um").toString
    emb.write.mode("overwrite").parquet(corpusDir + "/embeddings.parquet")
    val idx0 = IvfIndex.currentFor(spark, corpusDir) // standing fallback
    val rebuilt = IvfIndex.republishDrifted(spark, corpusDir, emb)
    val after = IvfIndex.currentFor(spark, corpusDir)
    assert(after.dir == rebuilt.dir && after.dir != idx0.dir,
      "unmanaged currentFor did not pick up the republish")
  }

  test("append auditor (round-16): audits on the every-N cadence, stays " +
      "quiet on same-distribution batches, fires on the planted-drift " +
      "batch; the foreachBatch adapter drives the same path") {
    import spark.implicits._
    // seed 7: byte-identical standing corpus + centers to the
    // drift-gate test above, whose hole-blob geometry is PROVEN to
    // fire (planted-drift margins are not seed-invariant — a seed-11
    // variant of the same shapes read recall 0.97 and never fired)
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(16)(mkCenter(rnd))
    val standing = (0L until 2000L)
      .map(i => (i, mkMember(centers((i % 16).toInt), 5, i)))
      .toDF("vec_id", "embedding")
    val dir = tempDir("graft_ivf_audit").toString
    val idx = IvfIndex.build(spark, standing, dir)
    val auditor = new IvfIndex.AppendAuditor(spark, idx, every = 2,
      floor = 0.9)
    def clusteredBatch(base: Long): org.apache.spark.sql.DataFrame =
      (0L until 200L)
        .map(i => (base + i, mkMember(centers((i % 16).toInt), 5, base + i)))
        .toDF("vec_id", "embedding")
    // appends 1-2: same distribution — audit runs at #2 and stays quiet
    assert(auditor.append(clusteredBatch(20000L)).isEmpty,
      "off-cadence append must not audit")
    val st2 = auditor.append(clusteredBatch(21000L))
    assert(st2.exists(!_.drifted),
      s"cadence audit on same-distribution batches misfired: $st2")
    // appends 3-4: the hole blob — ids and member seeds chosen so the
    // two batches together are EXACTLY the drift-gate test's 600
    // planted vectors (ids 10000+i, seeds 100000+i) — #4 fires
    val hole = Array.tabulate(64)(j => centers.map(_(j)).sum / 16)
    def driftBatch(from: Long, n: Long): org.apache.spark.sql.DataFrame =
      (from until from + n)
        .map(i => (10000L + i, mkMember(hole, 40, 100000L + i)))
        .toDF("vec_id", "embedding")
    assert(auditor.append(driftBatch(0L, 300L)).isEmpty)
    val st4 = auditor.append(driftBatch(300L, 300L))
    assert(st4.exists(_.drifted),
      s"cadence audit did not fire on the planted-drift batch: $st4")
    assert(auditor.appendCount == 4 && auditor.auditsRun == 2 &&
      auditor.last.exists(_.drifted))
    // foreachBatch adapter: two micro-batches through a MemoryStream =
    // two appends on the same cadence → exactly one more audit
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Seq[Float])]
    val q = in.toDF().toDF("vec_id", "embedding")
      .writeStream.foreachBatch(auditor.foreachBatch).start()
    try {
      in.addData((0L until 50L).map(i =>
        (30000L + i, mkMember(centers((i % 16).toInt), 5, 30000L + i))): _*)
      q.processAllAvailable()
      in.addData((0L until 50L).map(i =>
        (31000L + i, mkMember(centers((i % 16).toInt), 5, 31000L + i))): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(auditor.appendCount == 6 && auditor.auditsRun == 3,
      s"foreachBatch cadence: ${auditor.appendCount} appends, " +
        s"${auditor.auditsRun} audits")
  }

  test("persisted-index probe equals the inline assign-per-run formulation") {
    val index = IvfIndex.builtFor(spark, sf)
    val persisted = IvfIndex.probe(spark, index, emb.filter(col("vec_id") < 10))
    // the pre-index ss03 shape: assign the full table inline, same
    // (integer) centroids, same candidate semantics
    val cells = Similarity.quantize(emb)
      .select(col("vec_id"), col("embedding"),
        Similarity.int8Assign(index.centroids).getField("cid").as("c_id"))
    val probes = Similarity.quantize(emb.filter(col("vec_id") < 10))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        explode(Similarity.nearestCellsInt8(index.centroids, 3)).as("cell"))
      .select(col("q_id"), col("q_vec"), col("cell.cid").as("c_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    val inline = cells.join(probes, Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_vec"), col("vec_id"), col("embedding"))
      .distinct()
      .withColumn("cos", graft.functions.VectorOps.cosine(col("embedding"), col("q_vec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rank"))
    assert(persisted.exceptAll(inline).isEmpty && inline.exceptAll(persisted).isEmpty,
      "persisted-index probe diverged from the inline formulation")
  }
}
