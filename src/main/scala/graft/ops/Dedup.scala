package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.SimHash
import graft.functions.VectorOps._

/** Deduplication operators for an LLM training-data pipeline:
  * exact (hash groupBy), MinHash+LSH, SimHash, n-gram Jaccard, and
  * embedding-cosine near-dup.
  *
  * Scale design: every near-dup path generates candidates via BUCKETING
  * (LSH band join / simhash block join), never an all-pairs product —
  * candidate generation is a shuffle on the bucket key, verification runs
  * only on candidates. That is the shape that survives 100 TB; the test
  * corpora here just make the buckets small.
  *
  * Test corpora are built deterministically from `documents`: exact
  * duplicates (same text, doc_id+1,000,000) for the exact paths, and
  * near duplicates (every 7th token dropped, doc_id+1,000,000) for the
  * near-dup paths — so each query provably finds something.
  */
object Dedup {

  private[graft] val CopyOffset = 1000000L

  /** Per-row guard: copy ids are base + CopyOffset, so a base corpus with
    * ids ≥ CopyOffset would alias copies onto unrelated base docs — and
    * both engines would alias IDENTICALLY, so the oracle could never
    * catch it. assert_true makes the invariant fail loudly at any scale
    * factor, inline in the scan (no extra job). */
  private[graft] def guardId(id: Column): Column =
    when(assert_true(id < CopyOffset && id >= 0,
      lit(s"test-corpus id out of range [0, $CopyOffset)")).isNull, id)

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")
      .select(guardId(col("doc_id")).as("doc_id"), col("text"))

  /** documents ∪ exact copies (ids offset by 1e6). */
  private def corpusExact(s: SparkSession, d: String): DataFrame = {
    val b = docs(s, d)
    b.union(b.select((col("doc_id") + CopyOffset).as("doc_id"), col("text")))
  }

  /** documents ∪ near-duplicate copies: every 7th token dropped. */
  private def corpusNear(s: SparkSession, d: String): DataFrame = {
    val b = docs(s, d)
    val mutated = b.select((col("doc_id") + CopyOffset).as("doc_id"),
      array_join(filter(split(col("text"), " "), (_, i) => i % 7 =!= 0), " ").as("text"))
    b.union(mutated)
  }

  /** 64-permutation MinHash signature of a shingle-set column — a native
    * Catalyst expression hashing each shingle once (graft.functions
    * .MinHashSig), not 64 built-in rehashes. */
  private def minhashSig(sh: Column): Column =
    graft.functions.MinHash.minhashSig(sh)

  // The dd03 MinHash+LSH pipeline in its three stages, factored so the
  // registered query and the 100x scale gate (tools.Scale lsh) run
  // the SAME code: signatures → band-bucket candidates → exact-Jaccard
  // verification. Every hash is md5-derived, so the DuckDB oracle
  // replays the whole pipeline (dd03's registry comment).

  /** Signature table (doc_id, sh, sig) of a (doc_id, text) corpus.
    * Shingle sets are carried as 64-bit hashes from a single fused
    * pass (ShingleHashes: one streaming md5 per 3-gram — no string
    * building), sorted ONCE per document so pair verification can run
    * the fused zero-allocation merge (SetOps.jaccardSorted).
    * Persisted DISK_ONLY (not memory: signatures scale with the
    * corpus) and materialized BEFORE the plan fans out: four scans
    * consume this table in one DAG, and first-touch cache fills from
    * concurrent stages would recompute the signature pipeline up to
    * four times (measured ~3x cold-run cost). At 100 TB this IS
    * "write the signature table, then run candidates against it". */
  private[graft] def lshSignatures(corpus: DataFrame): DataFrame = {
    val base = corpus
      .withColumn("sh",
        sort_array(graft.functions.MinHash.shingleHashes(split(col("text"), " "), 3)))
      .withColumn("sig", minhashSig(col("sh")))
      .select(col("doc_id"), col("sh"), col("sig"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    base.count()
    base
  }

  /** Band-bucket candidate pairs (a < b, distinct): 32 bands x 2 rows.
    * Band key = the band's two raw signature values, not a hash of
    * them — same shuffle (16 bytes vs 8 per band row), zero band-hash
    * collisions, and trivially engine-portable for the oracle. This
    * join is the scale story: candidates are pairs sharing a band
    * BUCKET, never an all-pairs product (the lsh scale gate bounds the
    * candidate count at 100x scale). */
  private[graft] def lshCandidates(base: DataFrame): DataFrame = {
    val bands = base.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(31)),
          j => array(element_at(col("sig"), j * 2 + 1),
            element_at(col("sig"), j * 2 + 2)))))
      .toDF("doc_id", "band_id", "band")
    bands.as("x").join(bands.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band") === col("y.band") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
  }

  /** Exact-Jaccard verification of candidate pairs: the reported
    * jaccard is EXACT set Jaccard over the shingle hashes (a fused
    * sorted-merge intersect), so the only approximation in the whole
    * pipeline is the candidate RECALL — which banding theory bounds
    * and the lsh scale gate measures against planted pairs. */
  private[graft] def lshVerify(base: DataFrame, cand: DataFrame,
      minJaccard: Double): DataFrame =
    cand
      .join(base.select(col("doc_id").as("a"), col("sh").as("sh_a")), "a")
      .join(base.select(col("doc_id").as("b"), col("sh").as("sh_b")), "b")
      .withColumn("jaccard",
        graft.functions.SetOps.jaccardSorted(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"), col("jaccard"))

  /** doc_ids of the near-dup test corpus (for pipeline composition). */
  def nearCorpusIds(s: SparkSession, d: String): DataFrame =
    corpusNear(s, d).select(col("doc_id"))

  // dd12's span table is consumed twice (the dd12 report and the dd13
  // apply) — like the dd08 cluster map, it is the intermediate a 100 TB
  // pipeline materializes ONCE and every consumer reads. "Once" now
  // means once per CORPUS, not once per JVM: the memo is a
  // read-through cache over graft.IndexStore (parquet under the index
  // root when configured; the historical DISK_ONLY session persist
  // otherwise). Keyed by the spare-one flag too: dd13b's keep-one span
  // table is a different (smaller) table than dd12/dd13's remove-all
  // one.
  private val spanCache = new graft.SessionMemo[(String, Boolean), DataFrame](
    release = graft.SessionMemo.unpersist)

  /** Maximal duplicated token spans per doc (dd12's body, shared with
    * the dd13/dd13b applies): K-token md5 seed windows → global
    * occurrence count → per-doc interval sweep. See dd12's registry
    * comment for the linear three-shuffle shape. Memoized per
    * (session, dir, spareOne). */
  private def dupSpans(s: SparkSession, d: String,
      spareOne: Boolean = false): DataFrame =
    spanCache.get(s, (d, spareOne)) {
      graft.IndexStore.dataFrame(s, d,
        if (spareOne) "span_table_keep1" else "span_table", "documents")(
        spanPipeline(corpusNear(s, d), 6, spareOne))
    }

  /** dd12's span pipeline over an arbitrary (doc_id, text) corpus —
    * also the entry the gram scale gate drives at 100x scale. With
    * `spareOne` the globally minimal (doc_id, pos) occurrence of each
    * duplicated gram is NOT a duplicate start — Lee et al. 2022 §4.1's
    * actual "remove all but one occurrence" rule (dd13b), under which
    * duplicated content survives in exactly one place instead of
    * vanishing from the corpus. */
  private[graft] def spanPipeline(corpus: DataFrame, K: Int,
      spareOne: Boolean = false): DataFrame = {
    val toks = split(col("text"), " ")
    val grams = corpus
      .select(col("doc_id"),
        posexplode(when(size(toks) >= K,
          transform(sequence(lit(0), size(toks) - K),
            i => md5(concat_ws(" ", slice(toks, i + 1, lit(K))))))))
      .toDF("doc_id", "pos", "h")
    // Occurrence counting, NARROWED (the qa05 two-stage treatment):
    // groupBy(h) splits partial/final around the exchange, so the
    // h-shuffle carries (h, partial_count) cells — never the full
    // (doc_id, pos, h) gram table, which the previous
    // `count(*) over (partition by h)` window pushed through the
    // exchange with zero map-side combining. The duplicated-h set is
    // small by definition (only grams that repeat), so the routing join
    // below is hint-free and AQE broadcasts it when the runtime size
    // proves out — only under genuine dup-heavy skew does the gram
    // table re-shuffle, and then only its duplicated sliver survives
    // the join anyway. Cost: the gram explode runs twice (two map-only
    // corpus scans — same md5 floor as qa05); what it buys at 100 TB:
    // the corpus-sized gram table never crosses an exchange.
    val dupGroups = (
      if (spareOne)
        grams.groupBy(col("h"))
          .agg(count(lit(1)).as("occ"),
            min(struct(col("doc_id"), col("pos"))).as("keep"))
      else grams.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      ).filter(col("occ") > 1)
    val dupStarts =
      if (spareOne)
        grams.join(dupGroups.select(col("h"), col("keep")), Seq("h"))
          .filter(col("doc_id") =!= col("keep.doc_id") ||
            col("pos") =!= col("keep.pos"))
          .select(col("doc_id"), col("pos"))
      else
        grams.join(dupGroups.select(col("h")), Seq("h"), "left_semi")
          .select(col("doc_id"), col("pos"))
    // interval sweep: a window starting at pos covers [pos, pos+K);
    // it merges with the running span unless it starts strictly past
    // the max end seen so far (pos == prev_end is adjacency → merge)
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val merged = dupStarts
      .withColumn("prev_end",
        max(col("pos") + K).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_span",
        when(col("pos") > coalesce(col("prev_end"), lit(-1)), 1).otherwise(0))
      .withColumn("grp", sum(col("new_span")).over(byDoc))
    merged.groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        max(col("pos") + K).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"))
  }

  /** The scrub half shared by dd13/dd13b: cut every span out of each
    * doc's token stream and emit the fixed-width audit row (counts +
    * clean_md5). The span table aggregates per doc and joins back on
    * doc_id HINT-FREE (AQE broadcasts when the runtime size proves it;
    * a skew-heavy span table shuffles); the cut itself runs map-side
    * per row and never explodes tokens — one fused sorted-interval
    * pass (functions.SpanFilter, the PqEncode treatment: the previous
    * `filter`+`exists` higher-order lambdas were CodegenFallback,
    * interpreted per token × per span). */
  /** The dd13/dd13b/dc03 scrub-audit kernel: cut every (span_start,
    * span_end) token interval from each doc (SpanFilter handles
    * unsorted/overlapping spans) and emit the per-doc audit row —
    * token counts before/after and an md5 of the cleaned text. */
  private[graft] def scrubReport(corpus: DataFrame, spans: DataFrame): DataFrame = {
    val perDoc = spans
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    // Tables.spread re-probed on a settled host (round 17, the
    // verdict's item 7) and REJECTED again: dd13 min 0.347→0.367 s,
    // dd13b 0.374→0.395 (8 reps, same-window stash A/B) — the split +
    // spanCut allocation per row hits the measured 32-way concurrency
    // cliff and the md5 share is too small to pay for it.
    corpus
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), split(col("text"), " ").as("toks"), col("spans"))
      .withColumn("kept", when(col("spans").isNull, col("toks"))
        .otherwise(graft.functions.SpanFilter.spanCut(col("toks"), col("spans"))))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_cut"),
        md5(array_join(col("kept"), " ")).as("clean_md5"))
  }

  /** qa05's two-stage novelty aggregate over an arbitrary (doc_id,
    * source, text) corpus — also the entry the gram scale gate drives
    * at 100x scale. See qa05's registry comment for the shuffle shape. */
  private[graft] def noveltyReport(docsIn: DataFrame, K: Int): DataFrame = {
    // The gram explode + per-gram md5 below fuse into the scan stage,
    // which on a single-row-group corpus runs on ONE core (measured: a
    // 1.7 s single task carrying the whole query at sf0.1). Spread the
    // scan-starved corpus first — both branches share the one exchange
    // (ReuseExchange), and at scale the spread is a no-op (Tables.spread).
    val docs = graft.Tables.spread(docsIn)
    val toks = split(col("text"), " ")
    val totals = docs
      .select(col("source"),
        when(size(toks) >= K, (size(toks) - K + 1).cast("long"))
          .otherwise(lit(0L)).as("g"))
      .filter(col("g") > 0)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("g")).as("total_grams"))
    val uniques = docs
      .select(col("source"),
        explode(when(size(toks) >= K,
          transform(sequence(lit(0), size(toks) - K),
            i => md5(concat_ws(" ", slice(toks, i + 1, lit(K))))))).as("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("occ"), min(col("source")).as("source"))
      .filter(col("occ") === 1)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("unique_grams"))
    totals.join(uniques, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("unique_grams"), lit(0L)).as("unique_grams"),
        col("total_grams"),
        (coalesce(col("unique_grams"), lit(0L)).cast("double") /
          col("total_grams")).as("novelty"))
  }

  // pp02 composes over dd03's pairs; memoize the persisted pair set per
  // (session, dir) so composition reuses instead of recomputing the
  // whole LSH pipeline. DISK_ONLY: the candidate table must never pin
  // executor memory — at 100 TB this is exactly "write the candidate
  // table out and read it back", with lineage kept for recomputation.
  // dd11's bloom over the standing-corpus fingerprints, one per
  // (session, dir) — a property of the standing corpus, rebuilt only
  // when it changes (here: never within a session).
  private val standingBloomCache = new graft.SessionMemo[String, Array[Byte]]

  private val pairCache =
    new graft.SessionMemo[String, DataFrame](release = graft.SessionMemo.unpersist)

  def minhashPairs(s: SparkSession, d: String): DataFrame =
    pairCache.get(s, d) {
      graft.IndexStore.dataFrame(s, d, "lsh_pairs", "documents")(
        queries("dd03_minhash_lsh")(s, d))
    }

  /** Distributed connected components over an undirected edge list
    * (columns `a`, `b`) via min-label propagation with pointer jumping:
    * each round every node adopts the minimum label in its closed
    * neighborhood, then labels are compressed one hop
    * (label := label(label)), giving O(log diameter) rounds instead of
    * O(diameter). Each round is two bounded shuffles on (node, label)
    * state — never on document text — and convergence is detected with
    * a changed-label count, so the loop runs exactly as long as the
    * graph needs. This is the pairs→clusters step a dedup pipeline
    * needs after LSH: at 100 TB the edge list is the persisted
    * candidate table and each round rewrites a (node, label) table.
    * Returns (doc_id, cluster_rep, cluster_size).
    */
  def connectedComponents(edges: DataFrame): DataFrame =
    connectedComponentsWithStats(edges)._1

  /** As [[connectedComponents]], additionally returning the number of
    * label-propagation rounds run (for scale diagnostics — see
    * the cc gate of graft.tools.Scale and docs/ROUND6.md). */
  def connectedComponentsWithStats(edges: DataFrame): (DataFrame, Int) = {
    val disk = org.apache.spark.storage.StorageLevel.DISK_ONLY
    val parts = edges.sparkSession.sessionState.conf.numShufflePartitions
    // Pre-partition the (static) edge list by dst ONCE: the persisted
    // partitioning survives in the cached plan, so per round only the
    // (node, label) table shuffles into the neighbor-min join — the
    // edge table never re-shuffles.
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
      .repartition(parts, col("dst"))
      .persist(disk)
    // Each round REWRITES the (node, label) table via an eager disk
    // checkpoint: the compression self-join references its input twice,
    // so without real lineage truncation the logical plan doubles per
    // round (exponential — measured as an OOM in plan *strings* by
    // round 5 at 1M nodes). checkpoint() is also the 100 TB-honest
    // form: "write this round's label table, read it back".
    val ss = edges.sparkSession
    if (ss.sparkContext.getCheckpointDir.isEmpty) {
      val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toFile
      ss.sparkContext.setCheckpointDir(dir.toString)
      // the directory is the context's, shared by every session on it,
      // so it goes when the application ends, not with one session
      ss.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          org.apache.commons.io.FileUtils.deleteQuietly(dir)
      })
    }
    var labels = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .persist(disk)
    val initial = labels
    // pointer jumping halves the distance-to-root per round, so 50
    // rounds covers any graph a cluster could hold; the cap exists only
    // to bound a logic error, and hitting it is an error, not a result
    val maxRounds = 50
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val nbrMin = sym
        .join(labels.select(col("node").as("dst"), col("label").as("dlabel")), "dst")
        .groupBy(col("src")).agg(min(col("dlabel")).as("nlabel"))
        .select(col("src").as("node"), col("nlabel"))
      // carry the previous label as `old` so convergence detection is a
      // scan of the checkpointed result, not another 2-table join;
      // persist stepped because BOTH sides of the compression join
      // consume it (otherwise the neighbor-min join/agg runs twice)
      val stepped = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("label").as("old"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        .persist(disk)
      // pointer jumping: label := label(label); the right side is keyed
      // by node (unique), so the join is 1:1
      val compressed = stepped
        .join(stepped.select(col("node").as("label"), col("label").as("hop")),
          Seq("label"), "left")
        .select(col("node"), col("old"), coalesce(col("hop"), col("label")).as("label"))
        .checkpoint()
      changed = compressed.filter(col("label") =!= col("old")).count()
      stepped.unpersist()
      labels = compressed.select(col("node"), col("label"))
      rounds += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxRounds rounds ($changed labels still moving)")
    initial.unpersist()
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    val out = labels.join(sizes, "label")
      .select(col("node").as("doc_id"), col("label").as("cluster_rep"),
        col("cluster_size"))
    sym.unpersist()
    (out, rounds)
  }

  // Pairs → clusters: connected components over the strong-pair edge
  // list (exact jaccard ≥ 0.7, the oracle-checked dd03b set). The
  // cluster representative (min doc_id) is what a dedup pipeline
  // keeps; everything else in the cluster is dropped. The DuckDB
  // oracle recomputes the same strong pairs and takes the min
  // reachable node per node via a recursive CTE — graph closure
  // checked end-to-end, not just pair parity. Shared by dd08 (the
  // cluster map) and qa04 (the size histogram).
  // Memoized per (session, dir) like minhashPairs: dd08 and qa04 both
  // consume the cluster map, and the CC iteration is the expensive part
  // — at 100 TB the cluster table is computed once and persisted, then
  // read by every downstream report. DISK_ONLY for the same
  // executor-memory reason as the pair cache.
  private val ccCache =
    new graft.SessionMemo[String, DataFrame](release = graft.SessionMemo.unpersist)

  /** The memoized near-dup cluster map (dd08's output) for pipeline
    * composition — pp12 consumes it to materialize the deduped corpus. */
  def clusterMap(s: SparkSession, d: String): DataFrame = dd08(s, d)

  private def dd08(s: SparkSession, d: String): DataFrame =
    ccCache.get(s, d) {
      graft.IndexStore.dataFrame(s, d, "cluster_map", "documents")(
        connectedComponents(
          minhashPairs(s, d).filter(col("jaccard") >= 0.7)
            .select(col("a"), col("b"))))
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd08_cc_clusters" -> { (s, d) => dd08(s, d) },

    // Corpus-health view of dd08: the cluster-SIZE distribution (how
    // many near-dup clusters of each size, how many docs they hold) —
    // the number a 100 TB dedup run reports before committing to drop
    // anything. One extra tiny agg over the CC output; the heavy
    // lifting (LSH + pointer-jumping) is dd08's, already bounded.
    "qa04_cluster_sizes" -> { (s, d) =>
      dd08(s, d).groupBy(col("cluster_size"))
        .agg(countDistinct(col("cluster_rep")).as("n_clusters"),
          count(lit(1)).as("n_docs"))
    },

    // Dedup impact BY SOURCE — the report that tells a corpus owner
    // which sources shrink (and by how much) when dd08's cluster map
    // is applied by pp12: every corpus doc attributed to its base
    // doc's source (a planted copy inherits its base's source), drops
    // = non-representative cluster members. One left join against the
    // memoized (tiny relative to the corpus — AQE broadcasts it)
    // cluster-map drop set, one partial-aggregated groupBy on source.
    // Counts are integers; the one share division runs per output row
    // on identical integer operands in both engines.
    "qa06_dedup_impact" -> { (s, d) =>
      val dropped = dd08(s, d)
        .filter(col("doc_id") =!= col("cluster_rep"))
        .select(col("doc_id"), lit(1L).as("is_drop"))
      val src = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"))
      val corpus = src.union(
        src.select((col("doc_id") + CopyOffset).as("doc_id"), col("source")))
      corpus.join(dropped, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("is_drop"), lit(0L))).as("n_dropped"))
        .withColumn("drop_share",
          col("n_dropped").cast("double") / col("n_docs"))
    },

    // Cross-source duplication FLOW matrix — qa06 says how much each
    // source shrinks under pp12; this says WHERE the mass goes: for
    // every dropped cluster member, (its source) → (its surviving
    // representative's source), counted. The report that catches one
    // source wholesale mirroring another — the from≠to cells — vs
    // benign internal duplication (the diagonal). Same memoized dd08
    // cluster map as qa04/qa06; two doc_id joins the tiny map drives
    // (AQE broadcasts it), one partial-agg groupBy on the bounded
    // (source, source) key space. Counts are integers — hash-exact.
    "qa07_dedup_flow" -> { (s, d) =>
      val src = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"))
      val corpus = src.union(
        src.select((col("doc_id") + CopyOffset).as("doc_id"), col("source")))
      dd08(s, d)
        .filter(col("doc_id") =!= col("cluster_rep"))
        .join(corpus.withColumnRenamed("source", "from_source"), Seq("doc_id"))
        .join(corpus.select(col("doc_id").as("cluster_rep"),
          col("source").as("to_source")), Seq("cluster_rep"))
        .groupBy(col("from_source"), col("to_source"))
        .agg(count(lit(1)).as("n_dropped"))
    },

    // Containment audit (the near-dup class Jaccard MISSES): a short
    // doc pasted inside a longer one has high containment
    // |A∩B| / |A| but low Jaccard (the union is dominated by the long
    // doc), so dd03/dd05 never flag it. For a fixed-size hash-ordered
    // sample of base docs (dd05's sample rule), report every corpus
    // doc whose distinct 5-gram set is ≥ 50% contained in the sample
    // doc. Scale shape: the 10 sampled gram sets broadcast; the scan
    // is MAP-ONLY (codegen'd sorted-merge intersect count per row, the
    // gr02 kernel) — no shuffle at any corpus size, the same
    // broadcast-audit shape as dd05/dd06. The near-dup copies (every
    // 7th token dropped) are planted containment hits: almost all of a
    // copy's grams exist in its base.
    "dd14_containment_audit" -> { (s, d) =>
      // spread (round 16): the per-doc gram hashing + sort and the 10
      // broadcast-sample merges all fuse into the 2-partition corpus
      // union (measured: two ~950 ms tasks carried the audit at sf0.1);
      // no-op at scale, map-only audit is row-placement-independent
      val withG = Tables.spread(corpusNear(s, d))
        .select(col("doc_id"),
          sort_array(graft.functions.MinHash.charGramHashes(col("text"), 5)).as("g"))
      val samples = broadcast(withG.filter(col("doc_id") < CopyOffset)
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id")).limit(10)
        .select(col("doc_id").as("base_id"), col("g").as("base_g")))
      withG.crossJoin(samples)
        .filter(col("doc_id") =!= col("base_id") && size(col("g")) > 0)
        .withColumn("containment",
          graft.functions.SetOps.intersectCountSorted(col("g"), col("base_g"))
            .cast("double") / size(col("g")))
        .filter(col("containment") >= 0.5)
        .select(col("base_id"), col("doc_id"), col("containment"))
    },

    // Incremental-ingest dedup: drop new-batch docs whose normalized
    // fingerprint already exists in the standing corpus — the "dedup
    // today's crawl against the existing 100 TB corpus" op. Shape: one
    // anti-join shuffle on the 16-byte fingerprint (never the text); at
    // full scale the standing side is the persisted fingerprint table,
    // optionally pre-filtered by a bloom filter so only probable hits
    // shuffle (the scale suite demonstrates that bloom pattern).
    "dd07_incremental_dedup" -> { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val fp = md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
      val standing = docs.filter(col("doc_id") % 5 =!= 0)
        .select(fp.as("fp")).distinct()
      docs.filter(col("doc_id") % 5 === 0)
        .withColumn("fp", fp)
        .join(standing, Seq("fp"), "left_anti")
        .select(col("doc_id"), col("fp"))
    },

    // dd07 with the bloom fast path — the shape that matters when the
    // standing corpus is 100 TB and today's crawl is mostly NEW: a
    // bloom filter over the standing fingerprints has no false
    // negatives, so a doc the filter rejects is definitely unseen and
    // is kept MAP-SIDE, never entering the anti-join; only the "maybe
    // seen" sliver (true dupes + fpp of the new) shuffles against the
    // standing table. Same exact result and oracle as dd07 — the bloom
    // is a routing decision, not a semantics change (dc02's argument,
    // applied to dedup).
    "dd11_incremental_dedup_bloom" -> { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val fp = md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
      val standing = docs.filter(col("doc_id") % 5 =!= 0)
        .select(fp.as("fp")).distinct()
      val bloom = standingBloomCache.get(s, d) {
        graft.IndexStore.bytes(s, d, "standing_bloom", "documents")(
          graft.functions.Bloom.build(standing, col("fp"),
            expectedItems = 1000000L, fpp = 0.01))
      }
      val batch = docs.filter(col("doc_id") % 5 === 0).withColumn("fp", fp)
      val definitelyNew =
        batch.filter(!graft.functions.Bloom.mightContain(bloom, col("fp")))
      val maybeSeen =
        batch.filter(graft.functions.Bloom.mightContain(bloom, col("fp")))
          .join(standing, Seq("fp"), "left_anti")
      definitelyNew.unionByName(maybeSeen).select(col("doc_id"), col("fp"))
    },

    // Exact dedup groups: hash-groupBy on content hash.
    "dd01_exact_groups" -> { (s, d) =>
      corpusExact(s, d)
        .groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
    },

    // Exact dedup keep-first: top-1 by doc_id per content hash → survivors.
    "dd02_dedup_keep_first" -> { (s, d) =>
      Similarity.topK(corpusExact(s, d), md5(col("text")), 1, "rn", col("doc_id"))
        .select(col("doc_id"))
    },

    // MinHash + LSH near-dup: shingle → 64-perm signature → 32 bands × 2
    // rows → band-bucket join for candidates → exact Jaccard verification.
    // Every hash in the pipeline is md5-derived (shingle hash = first 8
    // bytes of md5 of the joined shingle; permutations = fixed affine
    // mod-2^64 with published constants; bands = the raw signature pair,
    // no band hash at all) — so the DuckDB oracle replays the ENTIRE
    // pipeline, recall accidents included, and certifies the
    // approximation instead of skipping it.
    "dd03_minhash_lsh" -> { (s, d) =>
      val base = lshSignatures(corpusNear(s, d))
      lshVerify(base, lshCandidates(base), minJaccard = 0.4)
    },

    // dd03's verification stage under a full DuckDB oracle: the strong
    // pairs (jaccard ≥ 0.7). At 32 bands × 2 rows the probability a
    // j≥0.7 pair misses every band is (1−0.49)^32 ≈ 5e-10 — the LSH
    // candidate set deterministically contains every strong pair, so
    // the output equals exact all-pairs 3-gram jaccard ≥ 0.7, which
    // DuckDB recomputes from raw token 3-grams (hashed-set jaccard =
    // raw-set jaccard barring 64-bit collisions, same as dd05).
    "dd03b_lsh_strong_pairs" -> { (s, d) =>
      minhashPairs(s, d).filter(col("jaccard") >= 0.7)
    },

    // Edit-distance verification tier: Levenshtein distance between
    // each sampled doc and its planted near-dup variant, on a 300-char
    // prefix (the O(len²) DP is the verification kernel — bounded
    // input, map-only per-row expression; candidate generation at
    // scale stays LSH). The similarity ratio is integer-derived, so
    // the whole op is engine-exact.
    "dd09_edit_distance" -> { (s, d) =>
      val mutated = array_join(
        filter(split(col("text"), " "), (_, i) => i % 7 =!= 0), " ")
      docs(s, d).filter(col("doc_id") % 50 === 0)
        .withColumn("a", substring(col("text"), 1, 300))
        .withColumn("b", substring(mutated, 1, 300))
        .select(col("doc_id"),
          levenshtein(col("a"), col("b")).as("lev"),
          (lit(1.0) - levenshtein(col("a"), col("b")).cast("double") /
            greatest(length(col("a")), length(col("b")))).as("sim"))
    },

    // SimHash near-dup: 64-bit fingerprint (custom Catalyst expression),
    // 4×16-bit block LSH join, verify with bit_count(xor) ≤ 3. Unlike
    // minhash-LSH this is deterministically COMPLETE (pigeonhole:
    // hamming≤3 over 4 blocks ⇒ at least one block identical), and the
    // md5-derived token hash is engine-portable — so the DuckDB oracle
    // replays the whole pipeline and the query is hash-exact, not
    // rows-only.
    "dd04_simhash" -> { (s, d) =>
      val base = corpusNear(s, d)
        .select(col("doc_id"), SimHash.simhash64(split(col("text"), " ")).as("sh"))
      val blocks = base.select(col("doc_id"), col("sh"),
          posexplode(array((0 until 4).map(j =>
            shiftright(col("sh"), j * 16).bitwiseAND(lit(0xffffL))): _*)))
        .toDF("doc_id", "sh", "block_id", "block_val")
        // both sides of the self-join — avoid recomputing simhash twice
        // (DISK_ONLY: same executor-memory argument as dd03)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      blocks.as("x").join(blocks.as("y"),
          col("x.block_id") === col("y.block_id") &&
            col("x.block_val") === col("y.block_val") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
    },

    // Character-5-gram Jaccard on a FIXED-SIZE audit sample: the 10 base
    // docs with the smallest md5(doc_id) (a deterministic hash order both
    // engines can replay), plus their near-dup corpus copies — ≤ 20 docs,
    // so ≤ 190 pairs checked regardless of corpus size. A fixed-RATE
    // sample (the old doc_id % 50 gate) is still O((pn)²) pairs at scale;
    // a hash-ordered limit(k) is O(k²) = constant. The top-k itself is a
    // map-side partial TakeOrdered — no global sort materializes. Brute
    // pairs remain the *verification* shape; candidate generation at
    // scale is dd03.
    "dd05_ngram_jaccard" -> { (s, d) =>
      val sampleIds = docs(s, d)
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        .limit(10)
        .select(col("doc_id").as("base_id"))
      // char-5-gram sets as rolling hashes (one fused O(n) pass; set
      // sizes — and so the Jaccard values — equal the substring form
      // barring 64-bit collisions, which the oracle run confirms absent)
      val withGrams = corpusNear(s, d)
        .join(broadcast(sampleIds),
          col("doc_id") % CopyOffset === col("base_id"), "left_semi")
        .withColumn("g",
          sort_array(graft.functions.MinHash.charGramHashes(col("text"), 5)))
        .select(col("doc_id"), col("g"))
      withGrams.as("x").join(withGrams.as("y"), col("x.doc_id") < col("y.doc_id"))
        .withColumn("jaccard",
          graft.functions.SetOps.jaccardSorted(col("x.g"), col("y.g")))
        .filter(col("jaccard") >= 0.5)
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"), col("jaccard"))
    },

    // Exact-substring duplicate spans (the ExactSubstr pass of Lee et
    // al. 2022, "Deduplicating Training Data Makes Language Models
    // Better"): any run of ≥ K consecutive tokens that occurs more than
    // once in the corpus is a duplicate span; overlapping/adjacent seed
    // windows merge into maximal spans per doc. Unlike the pairwise
    // near-dup family this is fully LINEAR in corpus size — the suffix
    // array of the original paper re-expressed as a k-gram
    // seed-and-merge, which is the shape a distributed engine can run:
    //   1. one map-only pass explodes every K-token window to a
    //      16-byte md5 seed (no strings shuffle — the hash does);
    //   2. one shuffle on the seed hash counts global occurrences
    //      (window count, no self-join, the gram table is scanned once);
    //   3. one shuffle on doc_id merges seed windows into maximal
    //      spans with the classic running-max-end interval sweep.
    // Three bounded shuffles total, nothing quadratic, nothing
    // collected — at 100 TB each stage is a straight repartition of a
    // (doc, pos, hash) table. The near-dup corpus makes the output
    // decisive: a copy (every-7th-token dropped) collapses to ONE
    // maximal span (its 6-token runs are adjacent), while its base doc
    // yields one 6-token span per run with 1-token gaps at the dropped
    // positions (K=6 windows cannot cross a drop).
    "dd12_exact_substring" -> { (s, d) => dupSpans(s, d) },

    // The APPLY half of dd12 (as pp12 is the apply half of dd08): cut
    // every maximal duplicated span OUT of each doc's token stream and
    // reassemble the scrubbed text — the operator that actually emits
    // the span-deduplicated corpus of Lee et al. 2022 §4.1 (ExactSubstr
    // "we remove one occurrence" generalized to the span table dd12
    // already certifies). Scale shape: the span table is tiny relative
    // to the corpus (only duplicated regions), aggregated per doc and
    // joined back on doc_id HINT-FREE (AQE broadcasts when it proves
    // the runtime size; at 100 TB a skew-heavy span table shuffles).
    // The cut itself never explodes tokens: a single higher-order
    // filter((tok, i) => i ∉ any span) runs map-side per row, and the
    // reassembled text is hashed inline — output is a fixed-width
    // audit row (counts + md5), never the corpus shuffled twice. The
    // oracle replays span derivation AND reassembly, gating the
    // scrubbed text md5 exactly like tx15's clean_md5.
    "dd13_substring_scrub" -> { (s, d) =>
      scrubReport(corpusNear(s, d), dupSpans(s, d))
    },

    // dd13 under Lee et al. 2022 §4.1's ACTUAL rule — "we remove one
    // occurrence": per duplicated gram group the globally minimal
    // (doc_id, pos) occurrence is spared when building duplicate
    // starts, so duplicated content survives in exactly one place
    // (dd13 generalizes to removing every occurrence; this is the
    // keep-one form a production span-dedup run ships). Same pipeline
    // shape and cost as dd13 — the spare rule is one extra (tiny)
    // column on the duplicated-h group table. The oracle replays the
    // spare rule as rn > 1 over the identical (doc_id, pos) order.
    "dd13b_substring_scrub_keep1" -> { (s, d) =>
      scrubReport(corpusNear(s, d), dupSpans(s, d, spareOne = true))
    },

    // Corpus novelty report: what fraction of each source's 8-token
    // grams is globally UNIQUE (occurs once in the whole corpus)?
    // The memorization-risk number a training-mix owner reads next to
    // qa02's duplication rate: low novelty = the source is mostly
    // n-grams the model will see elsewhere anyway. Per-source sums are
    // INTEGERS so the cross-engine result is bit-exact, and the one
    // double division happens once per output row on identical operands
    // (ratio of sums — token-weighted, not an order-dependent float
    // average). Docs shorter than 8 tokens contribute no grams and are
    // not counted in n_docs (documented: novelty is defined over docs
    // that have at least one gram).
    //
    // Shuffle shape (two-stage aggregate, no window): the denominators
    // need no explode at all — a doc with n ≥ K tokens contributes
    // exactly n-K+1 grams, so n_docs/total_grams are one tiny
    // per-source agg straight off the documents scan. Only the
    // unique-gram count touches the exploded gram table, and it goes
    // through groupBy(h) — count + min are both partially aggregatable,
    // so the h-shuffle carries (h, partial_count, partial_min_source)
    // and nothing else (no doc_id, no pos; a gram with occ = 1 has
    // exactly one row, so min(source) IS its source). The previous
    // count(*) over (partition by h) window forced every
    // (doc_id, source, pos, h) row through the shuffle with zero
    // map-side combining — this form shuffles a strict subset of the
    // bytes for the same integers.
    "qa05_ngram_novelty" -> { (s, d) =>
      noveltyReport(Tables.load(s, d, "documents"), 8)
    },

    // Semantic dedup at scale (the SemDeDup shape): bucket vectors by
    // their 16-bit hyperplane sign signature (ONE equi-join shuffle on
    // the signature — never all-pairs), verify within-bucket pairs with
    // exact cosine ≥ 0.999, drop the higher id of each confirmed pair.
    // The test corpus plants exact-duplicate vectors (vec_id + 1e6, same
    // embedding): identical vectors have identical signatures, so every
    // planted copy is deterministically caught. The DuckDB oracle
    // replays the whole pipeline — hyperplane literals (bit-exact dot
    // products, see ss02), signature equality, cosine gate, anti-join —
    // so this is hash-exact, not rows-only. At 100 TB: bucket sizes are
    // data-dependent (near-identical clusters), but pairwise work is
    // confined within buckets, which is exactly SemDeDup's contract.
    "dd10_semantic_dedup" -> { (s, d) =>
      val base = Tables.load(s, d, "embeddings")
        .select(guardId(col("vec_id")).as("vec_id"), col("embedding"))
      val corpus = base.union(
        base.select((col("vec_id") + CopyOffset).as("vec_id"), col("embedding")))
      val withSig = corpus
        .withColumn("sig", Similarity.hyperplaneSig(col("embedding")))
      val dropped = withSig.as("x").join(withSig.as("y"),
          col("x.sig") === col("y.sig") && col("x.vec_id") < col("y.vec_id"))
        .withColumn("cos", cosine(col("x.embedding"), col("y.embedding")))
        .filter(col("cos") >= 0.999)
        .select(col("y.vec_id").as("vec_id")).distinct()
      corpus.select(col("vec_id")).join(dropped, Seq("vec_id"), "left_anti")
    },

    // Embedding-cosine near-dup: top-20 closest pairs among a FIXED-SIZE
    // sample — the 100 vectors with the smallest md5(vec_id) (hash order,
    // robust to any id layout; replayed verbatim by the DuckDB oracle).
    // Pair count is bounded by k(k-1)/2 = 4950 at ANY corpus size, where
    // the old vec_id % 5 rate gate grew quadratically. All-pairs over the
    // full table is never run: candidate generation at scale is the
    // LSH/IVF path in Similarity (ss02/ss03), and exact cosine runs only
    // on candidates or on a fixed-size audit sample like this one.
    "dd06_embed_cosine_pairs" -> { (s, d) =>
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(100)
      val x = e.select(col("vec_id").as("a"), col("embedding").as("va"))
      val y = e.select(col("vec_id").as("b"), col("embedding").as("vb"))
      x.join(y, col("a") < col("b"))
        .withColumn("cos", cosine(col("va"), col("vb")))
        .select(col("a"), col("b"), col("cos"))
        .orderBy(col("cos").desc, col("a"), col("b"))
        .limit(20)
    }
  )

  // Oracles for the SQL-expressible subset. The corpus CTEs mirror
  // corpusExact/corpusNear exactly.
  private val exactCte =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
      |)""".stripMargin

  // DuckDB list_filter has no index lambda arg in 1.x; emulate the
  // every-7th-token drop with a zipped position list.
  private val nearCte =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id,
      |    array_to_string(
      |      [t[i] FOR i IN range(1, len(t) + 1) IF (i - 1) % 7 != 0], ' ') AS text
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) z
      |)""".stripMargin

  // dd03 replayed EXACTLY in DuckDB — the full MinHash+LSH pipeline:
  // shingle hash = first 16 hex chars of md5 of the space-joined 3-gram
  // (HUGEINT hex-digit arithmetic, same value ShingleHashes computes from
  // the digest bytes); 64 affine permutations a_i*x + b_i mod 2^64 with
  // the EXACT constants embedded from MinHashUtil.As/Bs at runtime (split
  // 2^32 multiply keeps every intermediate under HUGEINT's 2^127);
  // unsigned min per permutation (matches the kernel's compareUnsigned);
  // bands = raw signature pairs; exact distinct-set jaccard ≥ 0.4 on the
  // shingle sets. Because the oracle replays candidate GENERATION too,
  // it certifies the LSH approximation itself — a near-threshold pair
  // that lands in no band is missing from BOTH engines, by construction.
  // Two DuckDB-performance notes, measured: the 64 permutations are
  // unrolled as UNION ALL branches with literal constants because the
  // natural `CROSS JOIN perm` form evaluates the HUGEINT arithmetic on
  // nested-loop-join output vectors ~20× slower (14s vs 0.7s at sf0.01);
  // and shd/sh/sigrow/band are MATERIALIZED because each is consumed by
  // multiple downstream CTEs (inlining re-executes them ~4×). Docs whose
  // token count < 3 have an empty shingle set: they are absent from shd
  // (no rows) and so never band-match — output-equivalent to the
  // kernel's all-max signature, since any pair involving an empty
  // shingle set has jaccard 0 (or NaN) and cannot pass the ≥ 0.4 gate
  // in either engine.
  private lazy val dd03Ctes: String = {
    val A = graft.functions.MinHashUtil.As.map(java.lang.Long.toUnsignedString)
    val B = graft.functions.MinHashUtil.Bs.map(java.lang.Long.toUnsignedString)
    val hexw = (0 until 16).map(i => BigInt(16).pow(15 - i)).mkString("[", ",", "]")
    val mod64 = "CAST('18446744073709551616' AS HUGEINT)"
    val branches = (0 until graft.functions.MinHashUtil.NumPerms).map { p =>
      s"  SELECT doc_id, $p AS p, min(((${A(p)}::HUGEINT * CAST(x // 4294967296 AS BIGINT))" +
        s" % 4294967296 * 4294967296 + ${A(p)}::HUGEINT * CAST(x % 4294967296 AS BIGINT)" +
        s" + ${B(p)}::HUGEINT) % $mod64) AS h FROM shd GROUP BY doc_id"
    }.mkString("\n  UNION ALL\n")
    s"""$nearCte,
       |tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
       |md AS (
       |  SELECT doc_id,
       |    unnest([ md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |             FOR i IN range(1, greatest(len(t) - 1, 1)) ]) AS h
       |  FROM tok
       |),
       |shd AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |    list_sum([ CAST(strpos('0123456789abcdef', substr(h, j, 1)) - 1 AS HUGEINT)
       |               * ($hexw::HUGEINT[])[j] FOR j IN range(1, 17) ]) AS x
       |  FROM md
       |),
       |sh AS MATERIALIZED (SELECT doc_id, list(x) AS sh FROM shd GROUP BY doc_id),
       |sigrow AS MATERIALIZED (
       |$branches
       |),
       |band AS MATERIALIZED (
       |  SELECT doc_id, p // 2 AS band_id,
       |    min(CASE WHEN p % 2 = 0 THEN h END) AS h1,
       |    min(CASE WHEN p % 2 = 1 THEN h END) AS h2
       |  FROM sigrow GROUP BY doc_id, p // 2
       |),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM band x JOIN band y
       |    ON x.band_id = y.band_id AND x.h1 = y.h1 AND x.h2 = y.h2
       |    AND x.doc_id < y.doc_id
       |),
       |lsh_pairs AS (
       |  SELECT c.a, c.b,
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |      (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
       |  FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b
       |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |      (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.4
       |)""".stripMargin
  }

  private lazy val dd03Sql: String =
    s"$dd03Ctes\nSELECT a, b, jaccard FROM lsh_pairs"

  /** pp02's oracle replays the same LSH pipeline, then applies the
    * keep-lowest-id survivor rule (drop every pair's `b` side) over the
    * near-dup corpus ids — shared here so the pipeline SQL exists once. */
  private[graft] lazy val pp02OracleSql: String =
    s"""$dd03Ctes
       |SELECT doc_id FROM corpus
       |WHERE doc_id NOT IN (SELECT b FROM lsh_pairs)""".stripMargin

  // dd04 replayed EXACTLY in DuckDB: per-token 64-bit hash = first 16 hex
  // chars of md5(token) as hex-digit arithmetic in HUGEINT (the same
  // value SimHashUtil.tokenHash64 computes from the raw digest bytes);
  // bit-column vote counts; sign bits; 4×16-bit blocks; block-equality
  // candidates; hamming via positionwise bit comparison. Every step is
  // integer-deterministic, so the oracle is a full recomputation — no
  // sampling, no tolerance.
  private lazy val dd04Sql: String = {
    val hexw = (0 until 16).map(i => BigInt(16).pow(15 - i)).mkString("[", ",", "]")
    val pw2 = (0 until 64).map(b => BigInt(2).pow(b)).mkString("[", ",", "]")
    val pw2b = (0 until 16).map(k => 1 << k).mkString("[", ",", "]")
    s"""$nearCte,
       |tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM corpus
       |),
       |th AS (
       |  SELECT doc_id,
       |    list_sum([ CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS HUGEINT)
       |               * ($hexw)[i] FOR i IN range(1, 17) ]) AS h
       |  FROM tok
       |),
       |bitcnt AS (
       |  SELECT doc_id, b,
       |    SUM(CASE WHEN (h // ($pw2)[b + 1]) % 2 = 1 THEN 1 ELSE -1 END) AS cnt
       |  FROM th, range(0, 64) r(b)
       |  GROUP BY doc_id, b
       |),
       |bits AS MATERIALIZED (
       |  SELECT doc_id, list(CASE WHEN cnt > 0 THEN 1 ELSE 0 END ORDER BY b) AS bits
       |  FROM bitcnt GROUP BY doc_id
       |),
       |blk AS MATERIALIZED (
       |  SELECT doc_id, bits, j AS block_id,
       |    list_sum([ bits[16 * j + k + 1] * ($pw2b)[k + 1] FOR k IN range(0, 16) ]) AS block_val
       |  FROM bits, range(0, 4) r(j)
       |)
       |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       |  CAST(64 - len([ i FOR i IN range(1, 65)
       |                  IF x.bits[i] = y.bits[i] ]) AS INT) AS hamming
       |FROM blk x JOIN blk y
       |  ON x.block_id = y.block_id AND x.block_val = y.block_val
       |  AND x.doc_id < y.doc_id
       |WHERE 64 - len([ i FOR i IN range(1, 65) IF x.bits[i] = y.bits[i] ]) <= 3""".stripMargin
  }

  /** dd08's full SQL (recursive-CTE graph closure); shared with qa04,
    * which wraps it as a derived table. */
  private[graft] lazy val dd08OracleSql: String =
    s"""${nearCte.replace("WITH ", "WITH RECURSIVE ")},
       |sh AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_distinct([array_to_string(t[i:i+2], ' ')
       |                   FOR i IN range(1, len(t) - 1)]) AS g
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM corpus) z
       |),
       |ex AS MATERIALIZED (SELECT doc_id, len(g) AS n, unnest(g) AS s FROM sh),
       |ov AS MATERIALIZED (
       |  SELECT x.doc_id AS a, y.doc_id AS b,
       |    COUNT(*) AS i, ANY_VALUE(x.n) AS na, ANY_VALUE(y.n) AS nb
       |  FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id
       |  GROUP BY x.doc_id, y.doc_id
       |),
       |pairs AS (
       |  SELECT a, b FROM ov
       |  WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.7
       |),
       |und AS MATERIALIZED (
       |  SELECT a AS u, b AS v FROM pairs
       |  UNION
       |  SELECT b AS u, a AS v FROM pairs
       |),
       |reach(u, v) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM und) n
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u
       |),
       |rep AS (
       |  SELECT u AS doc_id, MIN(v) AS cluster_rep FROM reach GROUP BY u
       |)
       |SELECT r.doc_id, r.cluster_rep, cs.cluster_size
       |FROM rep r JOIN (
       |  SELECT cluster_rep, COUNT(*) AS cluster_size FROM rep
       |  GROUP BY cluster_rep) cs USING (cluster_rep)""".stripMargin

  /** dd13/dd13b replayed in full: dd12's span derivation (identical
    * md5 seed hashes, occurrence rule, interval sweep), then the cut +
    * reassembly — per-token anti-semi vs the span intervals, tokens
    * re-joined in position order, md5 gated like tx15's clean_md5.
    * With `spareOne` the duplicate starts exclude each gram group's
    * globally minimal (doc_id, pos) occurrence — rn = 1 in exactly the
    * order Spark's min(struct(doc_id, pos)) compares. */
  private def scrubSql(spareOne: Boolean): String = {
    val dupStarts =
      if (spareOne)
        """dup_starts AS (
          |  SELECT doc_id, pos FROM (
          |    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS occ,
          |      ROW_NUMBER() OVER (PARTITION BY h
          |        ORDER BY doc_id, pos) AS rn
          |    FROM grams) z
          |  WHERE occ > 1 AND rn > 1
          |)""".stripMargin
      else
        """dup_starts AS (
          |  SELECT doc_id, pos FROM (
          |    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS occ
          |    FROM grams) z
          |  WHERE occ > 1
          |)""".stripMargin
    s"""$nearCte,
       |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
       |grams AS (
       |  SELECT doc_id, u.i AS pos,
       |    md5(array_to_string(t[u.i + 1:u.i + 6], ' ')) AS h
       |  FROM toks, UNNEST(range(0, len(t) - 5)) AS u(i)
       |),
       |$dupStarts,
       |swept AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos > COALESCE(MAX(pos + 6) OVER (
       |        PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |      THEN 1 ELSE 0 END AS new_span
       |  FROM dup_starts
       |),
       |grp AS (
       |  SELECT doc_id, pos, SUM(new_span) OVER (
       |      PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
       |  FROM swept
       |),
       |spans AS (
       |  SELECT doc_id, MIN(pos) AS span_start, MAX(pos + 6) AS span_end
       |  FROM grp GROUP BY doc_id, g
       |),
       |tok AS (
       |  SELECT doc_id, u.i AS pos, t[u.i + 1] AS tok
       |  FROM toks, UNNEST(range(0, len(t))) AS u(i)
       |),
       |kept AS (
       |  SELECT k.doc_id, k.pos, k.tok FROM tok k
       |  WHERE NOT EXISTS (SELECT 1 FROM spans s
       |    WHERE s.doc_id = k.doc_id
       |      AND k.pos >= s.span_start AND k.pos < s.span_end)
       |),
       |kc AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |    md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
       |  FROM kept GROUP BY doc_id
       |)
       |SELECT d.doc_id,
       |  CAST(len(d.t) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(kc.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(len(d.t) - COALESCE(kc.n_kept, 0) AS BIGINT) AS n_cut,
       |  COALESCE(kc.clean_md5, md5('')) AS clean_md5
       |FROM toks d LEFT JOIN kc USING (doc_id)""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "dd03_minhash_lsh" -> dd03Sql,
    "dd04_simhash" -> dd04Sql,

    // Full replay of the semantic-dedup pipeline: hyperplane-literal
    // signatures (bit-exact, see Similarity.hyperplaneSigSql), signature
    // equality buckets, exact cosine gate, keep-lowest-id anti-join.
    "dd10_semantic_dedup" ->
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |              FROM embeddings),
         |corpus AS (
         |  SELECT vec_id, v FROM base
         |  UNION ALL
         |  SELECT vec_id + 1000000 AS vec_id, v FROM base
         |),
         |sig AS (
         |  SELECT vec_id, v,
         |    ${Similarity.hyperplaneSigSql} AS sig
         |  FROM corpus
         |),
         |dropped AS (
         |  SELECT DISTINCT y.vec_id
         |  FROM sig x JOIN sig y
         |    ON x.sig = y.sig AND x.vec_id < y.vec_id
         |  WHERE list_dot_product(x.v, y.v) /
         |    (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v)))
         |    >= 0.999
         |)
         |SELECT vec_id FROM corpus
         |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin,
    // Graph closure in SQL: recompute the strong pairs exactly as dd03b,
    // then min-reachable-node per node via a recursive CTE (UNION
    // dedups, so the fixpoint terminates), then cluster sizes per rep.
    "dd08_cc_clusters" -> dd08OracleSql,

    // qa04 = dd08's output aggregated to its size histogram; DuckDB
    // allows WITH RECURSIVE inside a derived table, so the oracle
    // simply wraps the dd08 query.
    "qa04_cluster_sizes" ->
      s"""SELECT cluster_size,
         |  COUNT(DISTINCT cluster_rep) AS n_clusters,
         |  COUNT(*) AS n_docs
         |FROM ($dd08OracleSql) t
         |GROUP BY cluster_size""".stripMargin,

    // qa06: the dd08 CTE decides the drops; integer counts, share
    // division on identical operands.
    "qa06_dedup_impact" ->
      s"""WITH dropped AS (
         |  SELECT doc_id FROM ($dd08OracleSql) c
         |  WHERE doc_id <> cluster_rep
         |),
         |src_corpus AS (
         |  SELECT doc_id, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, source FROM documents
         |)
         |SELECT source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dropped,
         |  CAST(CAST(SUM(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS BIGINT) AS drop_share
         |FROM src_corpus c LEFT JOIN dropped d USING (doc_id)
         |GROUP BY source""".stripMargin,

    // qa07: the dd08 CTE decides the drops; both source attributions
    // join the same corpus union; integer counts — hash-exact.
    "qa07_dedup_flow" ->
      s"""WITH cm AS (
         |  SELECT doc_id, cluster_rep FROM ($dd08OracleSql) c
         |  WHERE doc_id <> cluster_rep
         |),
         |src_corpus AS (
         |  SELECT doc_id, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, source FROM documents
         |)
         |SELECT f.source AS from_source, t.source AS to_source,
         |  CAST(COUNT(*) AS BIGINT) AS n_dropped
         |FROM cm c
         |JOIN src_corpus f ON c.doc_id = f.doc_id
         |JOIN src_corpus t ON c.cluster_rep = t.doc_id
         |GROUP BY 1, 2""".stripMargin,

    // dd14: same distinct 5-gram sets as dd05's oracle (string grams —
    // the rolling-hash long set has identical cardinalities), same
    // hash-ordered sample rule, containment = |d ∩ base| / |d| on
    // identical integer operands. The gram range guard is 0, not 1:
    // a doc shorter than 5 chars must yield an EMPTY gram set (range(1,
    // 1) = []) exactly like charGramHashes, so both engines drop
    // sub-gram docs through the same len(g) > 0 gate — the old
    // greatest(…, 1) fabricated one truncated 'gram' DuckDB-only.
    "dd14_containment_audit" ->
      s"""$nearCte,
         |grams AS (
         |  SELECT doc_id,
         |    list_distinct([substr(text, i, 5)
         |                   FOR i IN range(1, greatest(length(text) - 4, 0) + 1)]) AS g
         |  FROM corpus
         |),
         |samples AS (
         |  SELECT doc_id AS base_id, g AS base_g FROM grams
         |  WHERE doc_id < 1000000
         |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 10
         |)
         |SELECT base_id, doc_id, containment FROM (
         |  SELECT s.base_id, d.doc_id,
         |    CAST(len(list_intersect(d.g, s.base_g)) AS DOUBLE) / len(d.g)
         |      AS containment
         |  FROM grams d, samples s
         |  WHERE d.doc_id != s.base_id AND len(d.g) > 0) z
         |WHERE containment >= 0.5""".stripMargin,

    "dd07_incremental_dedup" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents
        |), standing AS (
        |  SELECT DISTINCT fp FROM fp WHERE doc_id % 5 <> 0
        |)
        |SELECT doc_id, fp FROM fp
        |WHERE doc_id % 5 = 0
        |  AND fp NOT IN (SELECT fp FROM standing)""".stripMargin,

    // dd11's bloom routing is exact after the anti-join confirm, so the
    // oracle is dd07's verbatim — certifying the bloom changes nothing.
    "dd11_incremental_dedup_bloom" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents
        |), standing AS (
        |  SELECT DISTINCT fp FROM fp WHERE doc_id % 5 <> 0
        |)
        |SELECT doc_id, fp FROM fp
        |WHERE doc_id % 5 = 0
        |  AND fp NOT IN (SELECT fp FROM standing)""".stripMargin,

    "dd09_edit_distance" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    substr(text, 1, 300) AS a,
        |    substr(array_to_string(
        |      [t[i] FOR i IN range(1, len(t) + 1) IF (i - 1) % 7 != 0], ' '),
        |      1, 300) AS b
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS t
        |        FROM documents WHERE doc_id % 50 = 0) z)
        |SELECT doc_id, CAST(levenshtein(a, b) AS INT) AS lev,
        |  1.0 - CAST(levenshtein(a, b) AS DOUBLE) / greatest(length(a), length(b)) AS sim
        |FROM m""".stripMargin,

    "dd01_exact_groups" ->
      s"""$exactCte
         |SELECT md5(text) AS h, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
         |FROM corpus GROUP BY md5(text)""".stripMargin,

    "dd02_dedup_keep_first" ->
      s"""$exactCte
         |SELECT doc_id FROM (
         |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text)
         |    ORDER BY doc_id) AS rn FROM corpus) t
         |WHERE rn = 1""".stripMargin,

    "dd06_embed_cosine_pairs" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |          FROM embeddings
        |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 100)
        |SELECT a, b, cos FROM (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |    list_dot_product(x.v, y.v) /
        |      (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) AS cos
        |  FROM e x JOIN e y ON x.vec_id < y.vec_id) t
        |ORDER BY cos DESC, a, b
        |LIMIT 20""".stripMargin,

    "dd03b_lsh_strong_pairs" ->
      s"""$nearCte,
         |sh AS MATERIALIZED (
         |  SELECT doc_id,
         |    list_distinct([array_to_string(t[i:i+2], ' ')
         |                   FOR i IN range(1, len(t) - 1)]) AS g
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM corpus) z
         |),
         |ex AS MATERIALIZED (SELECT doc_id, len(g) AS n, unnest(g) AS s FROM sh),
         |ov AS MATERIALIZED (
         |  SELECT x.doc_id AS a, y.doc_id AS b,
         |    COUNT(*) AS i, ANY_VALUE(x.n) AS na, ANY_VALUE(y.n) AS nb
         |  FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id
         |  GROUP BY x.doc_id, y.doc_id
         |)
         |SELECT a, b,
         |  CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
         |FROM ov
         |WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.7""".stripMargin,

    // dd12 replayed in full: identical md5 seed hashes over identical
    // 6-token windows, identical occurrence rule (global count > 1),
    // identical interval sweep (running max end, adjacency merges).
    "dd12_exact_substring" ->
      s"""$nearCte,
         |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
         |grams AS (
         |  SELECT doc_id, u.i AS pos,
         |    md5(array_to_string(t[u.i + 1:u.i + 6], ' ')) AS h
         |  FROM toks, UNNEST(range(0, len(t) - 5)) AS u(i)
         |),
         |dup_starts AS (
         |  SELECT doc_id, pos FROM (
         |    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS occ
         |    FROM grams) z
         |  WHERE occ > 1
         |),
         |swept AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN pos > COALESCE(MAX(pos + 6) OVER (
         |        PARTITION BY doc_id ORDER BY pos
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         |      THEN 1 ELSE 0 END AS new_span
         |  FROM dup_starts
         |),
         |grp AS (
         |  SELECT doc_id, pos, SUM(new_span) OVER (
         |      PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
         |  FROM swept
         |)
         |SELECT doc_id,
         |  MIN(pos) AS span_start,
         |  MAX(pos + 6) AS span_end,
         |  MAX(pos + 6) - MIN(pos) AS span_tokens
         |FROM grp GROUP BY doc_id, g""".stripMargin,

    // dd13: dd12's span derivation replayed verbatim, then the cut +
    // reassembly — per-token anti-semi vs the span intervals, tokens
    // re-joined in position order, md5 gated like tx15's clean_md5.
    "dd13_substring_scrub" -> scrubSql(spareOne = false),

    // dd13b: identical replay except the spare rule — rn > 1 over
    // (doc_id, pos) order within each duplicated gram group is exactly
    // "every occurrence but the globally minimal one".
    "dd13b_substring_scrub_keep1" -> scrubSql(spareOne = true),

    // qa05: integer sums are bit-exact; the single novelty division
    // runs on identical integer operands in both engines.
    "qa05_ngram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
        |),
        |grams AS (
        |  SELECT doc_id, source,
        |    md5(array_to_string(t[u.i + 1:u.i + 8], ' ')) AS h
        |  FROM toks, UNNEST(range(0, len(t) - 7)) AS u(i)
        |),
        |occ AS (
        |  SELECT doc_id, source, COUNT(*) OVER (PARTITION BY h) AS occ
        |  FROM grams
        |)
        |SELECT source,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS unique_grams,
        |  CAST(COUNT(*) AS BIGINT) AS total_grams,
        |  CAST(SUM(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT) /
        |    CAST(COUNT(*) AS DOUBLE) AS novelty
        |FROM occ GROUP BY source""".stripMargin,

    "dd05_ngram_jaccard" ->
      s"""$nearCte,
         |sample AS (
         |  SELECT doc_id AS base_id FROM documents
         |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 10
         |),
         |grams AS (
         |  SELECT doc_id,
         |    list_distinct([substr(text, i, 5)
         |                   FOR i IN range(1, greatest(length(text) - 4, 1) + 1)]) AS g
         |  FROM corpus
         |  WHERE doc_id % 1000000 IN (SELECT base_id FROM sample)
         |)
         |SELECT x.doc_id AS a, y.doc_id AS b,
         |  CAST(len(list_intersect(x.g, y.g)) AS DOUBLE) /
         |    len(list_distinct(list_concat(x.g, y.g))) AS jaccard
         |FROM grams x JOIN grams y ON x.doc_id < y.doc_id
         |WHERE CAST(len(list_intersect(x.g, y.g)) AS DOUBLE) /
         |    len(list_distinct(list_concat(x.g, y.g))) >= 0.5""".stripMargin
  )
}
