package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorOps._

/** Persisted IVF (inverted-file) index: build once, probe many.
  *
  * Build trains the coarse quantizer, assigns every vector to its
  * nearest cell (map-only — centroids are plan-time literals), and
  * materializes the assignment table as parquet PARTITIONED BY cell id.
  * That partition layout IS the inverted file: a probe lists the
  * `nprobe` cells nearest each query and scans only those partitions
  * (static partition pruning — the scan's selected partitions and file
  * count are ~nprobe/ncells of the table, which IvfIndexSpec pins via
  * FileSourceScanExec metrics).
  *
  * The coarse quantizer is the INTEGER one the whole ss03 family
  * shares (ss05's per-vector int8 grid + emb03's hash-seeded
  * truncating-integer-mean Lloyd + integer-L2 argmin, ties to the
  * lower cid): cell membership and the probed-cell lists are exact
  * integer decisions a cross-engine oracle replays bit-for-bit, while
  * the REPORTED score stays the exact double cosine over the original
  * float vectors (ss01's replayed kernel). That is what moved ss03
  * from `no_oracle` (the float-k-means trainer was deterministic
  * run-to-run but not practically replayable) to hash-exact, without
  * giving up the persisted-index architecture.
  *
  * At 100 TB this is the separation that matters: index build is a
  * one-time job whose cost amortizes over every query, and a probe's
  * IO is proportional to the probed posting lists, not the corpus.
  */
object IvfIndex {

  /** Built index: on-disk location + the trained integer centroids
    * (cid → int8-space vector, ordered by cid). */
  final case class Index(dir: String, centroids: Seq[(Int, Seq[Int])]) {
    def k: Int = centroids.size
  }

  // one build per (session, source dir) — probes (bench reps, repeated
  // query construction) reuse the materialized index. Releasing an
  // entry (or a current pointer below) deletes an unmanaged build's
  // temp directory.
  private def releaseDir(idx: Index): Unit = graft.IndexStore.releaseUnmanaged(idx.dir)
  private val indexCache = new graft.SessionMemo[String, Index](release = releaseDir)

  // unmanaged-mode "current" pointer: with no index root there is no
  // pointer FILE, so a drift rebuild publishes its handle here and
  // currentFor serves it session-scoped (the unmanaged contract — all
  // unmanaged state is session-scoped)
  private val currentCache = new graft.SessionMemo[String, Index](release = releaseDir)

  // Posting read-back memo (round 16 — the bk02 z-layout lesson):
  // `s.read.parquet(index.dir)` re-LISTS the index's cell partition
  // directories and re-infers the partition schema on EVERY probe /
  // audit, a fixed driver+listing cost per call that dominates the
  // (partition-pruned) probe itself at bench scale. The ANALYZED
  // DataFrame is memoized per (session, dir); every JVM-local write
  // path funnels through [[writeAssigned]], which invalidates the dir
  // for ALL sessions — so an append/rebuild in this JVM is always
  // visible to the next probe. Cross-JVM writers are governed by the
  // IndexStore freshness fingerprint exactly as before (the memo holds
  // a plan, not data — the same trust level as Tables.load's dfCache).
  private val postingRead = new graft.SessionMemo[String, DataFrame]

  private[ops] def postingDf(s: SparkSession, dir: String): DataFrame =
    postingRead.get(s, dir)(s.read.parquet(dir))

  /** Assign with FIXED centroids and write the cell-partitioned
    * postings (vec_id, embedding, c_id) — the float vector rides along
    * so probes can score exactly without a corpus join. */
  private def writeAssigned(df: DataFrame, cents: Seq[(Int, Seq[Int])],
      out: String, overwrite: Boolean): Unit = {
    Similarity.quantize(df)
      .select(col("vec_id"), col("embedding"),
        Similarity.int8Assign(cents).getField("cid").as("c_id"))
      .write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("c_id").parquet(out)
    // a stale memoized listing would silently hide the rows just
    // written (ss11's append-then-probe) — drop every session's entry
    postingRead.invalidate(out)
  }

  /** Train + assign + write the cell-partitioned assignment table. */
  def build(s: SparkSession, df: DataFrame, out: String,
      k: Int = 16): Index = {
    val trained = Similarity.int8LloydTrain(
      Similarity.quantize(df).select(col("vec_id"), col("q")), k)
    require(trained.nonEmpty,
      "IVF build over an empty corpus — nothing to train a quantizer on")
    writeAssigned(df, trained, out, overwrite = true)
    Index(out, trained)
  }

  /** Append new vectors to an existing index: assign with the SAME
    * trained centroids (an IVF index's centroids are fixed at build
    * time; re-training would invalidate every posting list) and append
    * only the affected cell partitions — dynamic partition append, no
    * rewrite of existing posting lists. This is the incremental-ingest
    * path: today's crawl lands in the index without touching the
    * standing 100 TB of postings. Quantization is per-vector (ss05's
    * grid), so new vectors quantize identically to a full rebuild. */
  def append(s: SparkSession, index: Index, df: DataFrame): Unit =
    writeAssigned(df, index.centroids, index.dir, overwrite = false)

  /** Shared IndexStore resolution for a trained-centroids + postings
    * index (builtFor and builtForAppend differ only in store name and
    * build closure): Unmanaged → temp-dir build; Fresh → reconstruct
    * the Index from the stored centroids parquet; Build → build into
    * the store, persist the centroids, commit (abort on any failure so
    * a half-written index is never published). */
  private def resolveIndex(s: SparkSession, d: String, store: String,
      tmpPrefix: String)(buildShared: String => Index): Index =
    graft.IndexStore.resolve(s, d, store, "embeddings") match {
      case graft.IndexStore.Unmanaged =>
        buildShared(graft.IndexStore.unmanagedDir(tmpPrefix))
      case graft.IndexStore.Fresh(base) => loadIndex(s, base)
      case graft.IndexStore.Build(base, commit) =>
        try {
          val idx = buildShared(graft.IndexStore.dataPath(base))
          import s.implicits._
          idx.centroids.toDF("c_id", "c")
            .write.mode("overwrite").parquet(base + "/centroids")
          commit()
          idx
        } catch { case t: Throwable =>
          graft.IndexStore.abortBuild(s, base); throw t
        }
    }

  /** Reconstruct an [[Index]] from a committed store base (postings at
    * dataPath, trained centroids in the sibling parquet). */
  private def loadIndex(s: SparkSession, base: String): Index = {
    val cents = s.read.parquet(base + "/centroids").collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getInt(0), r.getSeq[Int](1).toSeq)).toSeq
    Index(graft.IndexStore.dataPath(base), cents)
  }

  /** Memoized build over the `embeddings` table of a testdata dir.
    * With an index root configured (IndexStore), the cell-partitioned
    * postings land under the store (they are ALREADY the index's
    * on-disk form — build() writes them; resolve() only decides where
    * and whether) plus a small `centroids` parquet, so a later session
    * reconstructs the Index from storage instead of re-training.
    * Trains through [[Similarity.ivfInt8Centroids]] — the SAME memoized
    * K=16 centroid set ss03b/ss03c use, so all three queries probe one
    * coarse quantizer. */
  def builtFor(s: SparkSession, d: String): Index =
    indexCache.get(s, d) {
      def all = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      def buildShared(out: String): Index = {
        val cents = Similarity.ivfInt8Centroids(s, d)
        require(cents.nonEmpty,
          "IVF build over an empty corpus — nothing to train a quantizer on")
        writeAssigned(all, cents, out, overwrite = true)
        Index(out, cents)
      }
      // "ivf8", not the old "ivf": the store format changed with the
      // trainer (INT centroid arrays, int8-assigned postings) — a new
      // name keeps a pre-rewrite persisted index from being read back
      // as the wrong schema
      resolveIndex(s, d, "ivf8", "graft_ivf")(buildShared)
    }

  /** ss11's memoized standing-corpus + appended-batch index: the
    * standing 90% (vec_id % 10 != 0) trains the frozen quantizer and
    * writes the initial posting lists, then the remaining 10% lands
    * through [[append]] — the dd07/dd11 standing-corpus pattern
    * applied to ANN: today's crawl is absorbed by dynamic partition
    * append, no retrain, no rewrite of existing posting lists. Store
    * name "ivf8a" keeps its lineage separate from the full-corpus
    * ivf8 index; qa11 audits the merged index's recall against the
    * exact brute force. */
  def builtForAppend(s: SparkSession, d: String): Index =
    indexCache.get(s, d + "#append") {
      def all = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      def standing = all.filter(col("vec_id") % 10 =!= 0)
      def batch = all.filter(col("vec_id") % 10 === 0)
      def buildShared(out: String): Index = {
        val cents = Similarity.ivfAppendCentroids(s, d)
        require(cents.nonEmpty,
          "IVF append-build over an empty standing corpus")
        writeAssigned(standing, cents, out, overwrite = true)
        val idx = Index(out, cents)
        append(s, idx, batch)
        idx
      }
      resolveIndex(s, d, "ivf8a", "graft_ivfa")(buildShared)
    }

  // ---- recall-drift policy -------------------------------------------
  //
  // The append path freezes centroids forever BY DESIGN (retraining
  // would invalidate every standing posting list), so a corpus whose
  // distribution shifts — a new language, a new embedding-model epoch —
  // degrades recall silently: the frozen cells slice the new mass
  // arbitrarily, a query's true neighbors scatter across cells it never
  // probes. qa11/qa12 MEASURE that; this tier ACTS on the measurement:
  // [[driftStatus]] evaluates recall@k of the index against the exact
  // brute force on a caller-chosen query sample and compares it to a
  // floor, and [[rebuildIfDrifted]] re-trains on the full corpus and
  // atomically republishes through the same IndexStore commit/abort
  // machinery the build path uses — the drifted index keeps serving
  // until the rebuilt one is committed.

  /** qa12's drift floor: healthy recall on the random-embedding test
    * corpus is ~0.79 (qa11 at sf0.01 — random vectors cap IVF recall),
    * so 0.5 marks "lost more than a third of healthy". Production
    * callers pass their own floor to [[driftStatus]]. */
  val DefaultRecallFloor: Double = 0.5

  /** One drift evaluation: micro-averaged recall@k over the query
    * sample (`recall` None when the sample or corpus is empty — an
    * empty audit is "no evidence", never "drifted"). */
  final case class DriftStatus(nQueries: Long, nHit: Long, nTrue: Long,
      recall: Option[Double], floor: Double) {
    def drifted: Boolean = recall.exists(_ < floor)
  }

  /** Exact brute-force cosine top-k for a bounded query sample (ss01's
    * shape): one corpus scan per audit, each map task's local top-k
    * pruned before the exchange, output = |queries| × k ids. */
  private def bruteTopK(corpus: DataFrame, queries: DataFrame,
      topk: Int): DataFrame =
    Similarity.topK(Similarity.queryPairs(corpus, queries)
        .withColumn("cos", cosine(col("embedding"), col("q_vec"))),
        col("q_id"), topk, "rank", col("cos").desc, col("vec_id"))
      .select(col("q_id"), col("vec_id"))

  /** Recall@`topk` of `index` vs the exact brute force over `corpus`
    * for the bounded `queries` sample, judged against `floor`. Cost:
    * one corpus scan (the brute-force baseline) plus one index probe —
    * run it on a BOUNDED query sample, on the audit cadence, not per
    * query. Logs loudly when drifted, naming the fix. */
  def driftStatus(s: SparkSession, corpus: DataFrame, index: Index,
      queries: DataFrame, floor: Double = DefaultRecallFloor,
      nprobe: Int = 3, topk: Int = 10): DriftStatus = {
    val exact = bruteTopK(corpus, queries, topk)
    val ann = probe(s, index, queries, nprobe, topk)
      .select(col("q_id"), col("vec_id"), lit(1).as("__hit"))
    val r = exact.join(ann, Seq("q_id", "vec_id"), "left")
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hit"),
        countDistinct(col("q_id")).as("n_q"))
      .head()
    val st = DriftStatus(r.getLong(2), r.getLong(1), r.getLong(0),
      if (r.getLong(0) > 0) Some(r.getLong(1).toDouble / r.getLong(0))
      else None, floor)
    if (st.drifted)
      System.err.println(f"[graft] IVF index at ${index.dir} has " +
        f"DRIFTED: recall@$topk ${st.recall.get}%.3f < floor $floor%.2f " +
        f"over ${st.nQueries} sampled queries — the frozen coarse " +
        "quantizer no longer covers the appended distribution. " +
        "Recommend IvfIndex.rebuildIfDrifted (re-train + atomic " +
        "republish; the old index serves until commit).")
    st
  }

  /** Evaluate [[driftStatus]] and, when drifted, re-train the coarse
    * quantizer on the FULL current corpus and republish the rebuilt
    * index ATOMICALLY via the IndexStore commit/abort path (store name
    * "ivf8r" — its own lineage: the frozen ivf8a index ss11/qa11 audit
    * stays untouched, and a crash mid-rebuild leaves the old index
    * serving). With no index root configured the rebuild lands in a
    * temp dir (session-scoped, the unmanaged contract). Managed mode
    * requires `d` to be the corpus dir whose `embeddings` table is
    * being indexed (the store fingerprints it); a corpus unchanged
    * since the last rebuild resolves Fresh and reuses it instead of
    * re-training. Returns the status and the rebuilt index when one
    * was (re)published — and swaps the [[CurrentAlias]] pointer on
    * commit, so standing [[currentFor]] readers pick up the rebuild
    * with no handle re-plumbing (round-16). */
  def rebuildIfDrifted(s: SparkSession, d: String, corpus: DataFrame,
      index: Index, queries: DataFrame,
      floor: Double = DefaultRecallFloor, k: Int = 16,
      nprobe: Int = 3, topk: Int = 10): (DriftStatus, Option[Index]) = {
    val st = driftStatus(s, corpus, index, queries, floor, nprobe, topk)
    if (!st.drifted) (st, None)
    else (st, Some(republishDrifted(s, d, corpus, k)))
  }

  /** The store-name alias [[currentFor]] resolves: a drift rebuild
    * points it at the "ivf8r" lineage. */
  private[ops] val CurrentAlias = "ivf"
  private[ops] val RebuiltStore = "ivf8r"

  /** The rebuild+republish leg of [[rebuildIfDrifted]] (factored so the
    * abort path is testable): re-train on the FULL current corpus,
    * publish under the [[RebuiltStore]] lineage via the IndexStore
    * commit/abort machinery, then — strictly AFTER that commit — swap
    * the [[CurrentAlias]] pointer (and the unmanaged session pointer)
    * at the rebuilt store. A crash or build failure anywhere before the
    * swap leaves the pointer on the old index: [[currentFor]] readers
    * only ever see fully-committed indexes. */
  private[ops] def republishDrifted(s: SparkSession, d: String,
      corpus: DataFrame, k: Int = 16): Index = {
    def buildShared(out: String): Index = {
      val trained = Similarity.int8LloydTrain(
        Similarity.quantize(corpus).select(col("vec_id"), col("q")), k)
      require(trained.nonEmpty,
        "IVF drift rebuild over an empty corpus")
      writeAssigned(corpus, trained, out, overwrite = true)
      Index(out, trained)
    }
    val idx = resolveIndex(s, d, RebuiltStore, "graft_ivfr")(buildShared)
    graft.IndexStore.writeCurrent(s, d, CurrentAlias, RebuiltStore)
    currentCache.put(s, d, idx)
    idx
  }

  /** Resolve the index CURRENTLY serving corpus dir `d` — the
    * no-re-plumbing entry point for standing readers: re-reads the
    * [[CurrentAlias]] pointer on every call (one tiny file read; the
    * expensive centroid reconstruction is memoized per pointed-at
    * store + corpus fingerprint), so a reader that resolved before a
    * drift rebuild and one that resolves after both return the rebuilt
    * index as soon as [[rebuildIfDrifted]] commits. With no pointer
    * published (no rebuild ever fired) or no index root configured,
    * falls back to the standing append index [[builtForAppend]] — or,
    * unmanaged, to the session-scoped pointer a rebuild published. A
    * pointer at a STALE index (corpus changed since the rebuild) fails
    * loudly via [[graft.IndexStore.peekFresh]]. */
  def currentFor(s: SparkSession, d: String): Index =
    graft.IndexStore.readCurrent(s, d, CurrentAlias) match {
      case Some(target) =>
        graft.IndexStore.peekFresh(s, d, target, "embeddings") match {
          case Some(base) =>
            val fp = graft.IndexStore.fingerprint(s, d, "embeddings")
            indexCache.get(s, s"$d#cur#$target#$fp")(loadIndex(s, base))
          case None =>
            // dangling pointer: the pointed-at index dir was removed
            // out-of-band — serve the standing index, loudly
            System.err.println(s"[graft] IVF current-alias for $d points " +
              s"at store '$target' which has no committed index — " +
              "falling back to the standing append index")
            builtForAppend(s, d)
        }
      case None =>
        currentCache.peek(s, d).getOrElse(builtForAppend(s, d))
    }

  /** Ingest-cadence drift auditing (round-16): the drift gate is only
    * useful if something actually RUNS it, and the natural cadence is
    * the append path — drift arrives with appended batches, so audit
    * every `every`-th one instead of relying on an external scheduler.
    * Wraps [[append]]: each call absorbs one batch under the frozen
    * centroids, and every `every`-th call runs [[driftStatus]] with
    *  - queries = the first `sampleK` rows OF THAT BATCH (the appended
    *    distribution is exactly where drift shows; bounded by
    *    construction), and
    *  - corpus = the index's own postings (the float vectors ride the
    *    posting lists, so the audit needs no side channel to the
    *    source table and always sees precisely what the index holds).
    * Cost model: one corpus scan per AUDIT (not per append) plus one
    * pruned probe — the bounded-sample design [[driftStatus]] states.
    * The auditor never rebuilds on its own (`rebuildIfDrifted` is a
    * policy decision with a corpus-dir contract); it returns the
    * status so the ingest loop can gate on `drifted` — and
    * [[driftStatus]] already logs loudly, naming the fix.
    *
    * [[AppendAuditor.foreachBatch]] adapts it to
    * `DataStreamWriter.foreachBatch`, so a streaming ingest audits on
    * the same cadence with zero extra code. Thread-safe (synchronized
    * counter) — foreachBatch delivers batches serially, but nothing
    * here depends on it.
    *
    * Writer contract after a rebuild: the auditor holds ONE index
    * handle, so when a fired gate leads the ingest loop to
    * [[rebuildIfDrifted]], later batches belong to the REBUILT index —
    * re-resolve (e.g. [[currentFor]]) and construct a fresh auditor on
    * it; appends through the old auditor would keep landing in the
    * superseded index's postings, which the swapped [[CurrentAlias]]
    * no longer serves. */
  final class AppendAuditor(s: SparkSession, index: Index, every: Int,
      floor: Double = DefaultRecallFloor, nprobe: Int = 3, topk: Int = 10,
      sampleK: Int = 10) {
    require(every > 0, s"auditEvery must be > 0, got $every")
    private var appended = 0
    private var audited = 0
    private var lastStatus: Option[DriftStatus] = None

    /** Appends absorbed so far. */
    def appendCount: Int = synchronized(appended)
    /** Audits actually run so far (= floor(appendCount / every)). */
    def auditsRun: Int = synchronized(audited)
    /** The most recent audit's status, if any ran yet. */
    def last: Option[DriftStatus] = synchronized(lastStatus)

    /** Absorb `df` into the index; on the audit cadence, evaluate and
      * return the drift status (None on off-cadence appends). The
      * batch is fully consumed inside the call (written, and on audit
      * cadence sampled) — nothing retains it afterwards. */
    def append(df: DataFrame): Option[DriftStatus] = synchronized {
      IvfIndex.append(s, index, df)
      appended += 1
      if (appended % every != 0) None
      else {
        val corpus = postingDf(s, index.dir)
          .select(col("vec_id"), col("embedding"))
        val queries = df.select(col("vec_id"), col("embedding"))
          .limit(sampleK)
        val st = driftStatus(s, corpus, index, queries, floor, nprobe, topk)
        audited += 1
        lastStatus = Some(st)
        Some(st)
      }
    }

    /** `DataStreamWriter.foreachBatch` adapter: each micro-batch is one
      * appended batch on the audit cadence. */
    def foreachBatch: (DataFrame, Long) => Unit =
      (df, _) => { append(df); () }
  }

  /** Top-k probe: assign each query vector to its `nprobe` nearest
    * cells (exact integer L2 in int8 space — the replayable decision),
    * collect the bounded probed-cell set (|queries| × nprobe ids — the
    * posting lists to open), scan ONLY those partitions of the index,
    * and rank candidates by the EXACT double cosine over the original
    * float vectors. */
  def probe(s: SparkSession, index: Index, queries: DataFrame,
      nprobe: Int = 3, topk: Int = 10): DataFrame = {
    val probes = Similarity.quantize(queries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        explode(Similarity.nearestCellsInt8(index.centroids, nprobe))
          .as("cell"))
      .select(col("q_id"), col("q_vec"), col("cell.cid").as("c_id"))
    // Round 17: the probed-cell pruning is DYNAMIC partition pruning,
    // not a construct-time collect. The old form ran the probe-side
    // plan eagerly at DataFrame CONSTRUCTION (distinct+collect = 2
    // jobs, ~300 ms of every IVF query's wall before its action
    // started) to bake the cell ids in as isin literals. The inner
    // join on c_id below already restricts ROWS to the probed cells;
    // what the literals bought was partition pruning on the
    // cell-partitioned posting scan — and Spark's DPP provides exactly
    // that at runtime: probes is hint-broadcast and bounded
    // (|queries| × nprobe rows), c_id is the posting dir's partition
    // column, so the scan gets a dynamicpruning#N partition filter and
    // still opens only the probed cells (plan-pinned in IvfIndexSpec).
    val posting = postingDf(s, index.dir)
    Similarity.topK(posting.join(broadcast(probes), Seq("c_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("q_vec"), col("vec_id"), col("embedding"))
        .distinct()
        .withColumn("cos", cosine(col("embedding"), col("q_vec"))),
        col("q_id"), topk, "rank", col("cos").desc, col("vec_id"))
      .select(col("q_id"), col("vec_id"), col("cos"), col("rank"))
  }
}
