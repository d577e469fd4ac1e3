package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Num._

/** Composed pipeline queries — the shapes a real training-data pipeline
  * chains together, exercised end-to-end as single plans. */
object Pipeline {

  // dc02's serialized bloom filter, one per (session, dir) — see the
  // query comment; evicted with the session like the Dedup caches.
  private val bloomCache = new graft.SessionMemo[String, Array[Byte]]

  /** The dc04 kernel: flag every corpus vector (`vec_id`, `embedding`)
    * whose max cosine against any eval vector (`e_id`, `e_vec`) reaches
    * `tau`, reporting the nearest eval item (argmax, ties to the
    * smaller id). Map-only: the eval set ships as ONE broadcast row and
    * the per-vector max is an order-independent `aggregate` fold over
    * it — zero corpus shuffle, corpus norm computed once per row, eval
    * norms once at broadcast build. Works UNCHANGED on a STREAMING
    * corpus: every operator here is stateless, so each microbatch is
    * decontaminated against the same static eval broadcast. Exactness:
    * VecDot's sequential double fold replays DuckDB's list_dot_product
    * bit-for-bit (dd06/ss01's established kernel). */
  def decontaminateEmbed(corpus: DataFrame, evalSet: DataFrame,
      tau: Double): DataFrame = {
    import graft.functions.VectorOps.{vecDot, vecNorm}
    val evalRow = evalSet.agg(collect_list(struct(col("e_id"),
      col("e_vec"), vecNorm(col("e_vec")).as("e_norm"))).as("evals"))
    val init = struct(lit(-2.0).as("cos"), lit(Long.MaxValue).as("id"))
    corpus
      .withColumn("nv", vecNorm(col("embedding")))
      .crossJoin(broadcast(evalRow))
      .withColumn("best", aggregate(col("evals"), init, (acc, e) => {
        val c = vecDot(col("embedding"), e.getField("e_vec")) /
          (col("nv") * e.getField("e_norm"))
        val better = c > acc.getField("cos") ||
          (c === acc.getField("cos") &&
            e.getField("e_id") < acc.getField("id"))
        when(better, struct(c.as("cos"), e.getField("e_id").as("id")))
          .otherwise(acc)
      }))
      .filter(col("best.cos") >= tau)
      .select(col("vec_id"), col("best.id").as("nearest_eval_id"),
        col("best.cos").as("cos"))
  }

  /** Fixed DSIR feature-space size: tokens hash into this many buckets,
    * so the learned model is DsirB rows/doubles REGARDLESS of corpus
    * size — the property that lets it broadcast at 100 TB. */
  val DsirB = 1024

  /** pp15's bucketized feature table — one row per (doc, lang, bucket)
    * with its token count; md5-derived bucket (ev16's conv idiom).
    * DISK_ONLY-persisted ONCE per (session, dir): its consumers are λ
    * training, per-doc scoring, dsirModel, AND qa08's re-derivation —
    * a per-call persist rebuilt and leaked one corpus-sized copy per
    * invocation (the ss09 quantized-leak class). */
  private val dsirFeatsMemo = graft.SessionMemo.frames[String]

  private def dsirFeats(s: SparkSession, d: String): DataFrame =
    dsirFeatsMemo.get(s, d) {
      Tables.load(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          explode(split(lower(col("text")), " ")).as("w"))
        .groupBy(col("doc_id"), col("lang"),
          (conv(substring(md5(col("w")), 1, 5), 16, 10)
            .cast("long") % DsirB).as("b"))
        .agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    }

  /** Both bucket marginals in ONE pass over the features (conditional
    * agg beats a raw/target groupBy pair + left join: half the feats
    * scans, and a bucket absent from RAW cannot appear in feats at
    * all, so one B-row table covers every scored bucket). */
  private[graft] def dsirBuckets(feats: DataFrame): DataFrame =
    feats.groupBy(col("b"))
      .agg(sum(col("c")).as("rc"),
        sum(when(col("lang") === "en", col("c")).otherwise(0L)).as("tc"))

  /** Laplace-smoothed per-bucket log2 likelihood ratio (target vs raw);
    * a bucket no target token hashed into still scores (smoothing
    * mass). B-row output — broadcasts at any corpus size. */
  private[graft] def dsirLam(buckets: DataFrame): DataFrame = {
    val tot = buckets.agg(sum(col("rc")).as("rt"), sum(col("tc")).as("tt"))
    buckets.crossJoin(broadcast(tot))
      .select(col("b"),
        (log2((col("tc") + 1).cast("double") / (col("tt") + DsirB)) -
          log2((col("rc") + 1).cast("double") / (col("rt") + DsirB))).as("lam"))
  }

  /** Per-doc importance weight: mean per-token log ratio. */
  private[graft] def dsirWdoc(feats: DataFrame, lam: DataFrame): DataFrame =
    feats.join(broadcast(lam), "b")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c")).as("n_tokens"),
        (sum(col("c") * col("lam")) / sum(col("c")).cast("double"))
          .as("raw_w"))

  /** The trained DSIR model in its broadcastable local form: λ as a
    * DENSE DsirB-length array indexed by bucket (buckets unseen in the
    * reference corpus get the all-smoothing value — the λ the Laplace
    * terms assign a zero-count bucket), plus pp15's round-4 corpus-mean
    * selection threshold. Bounded by construction: 1024 doubles — this
    * pair is the artifact a production pipeline trains once on the
    * reference corpus and ships to every scorer. */
  def dsirModel(s: SparkSession, d: String): (Array[Double], Double) = {
    val feats = dsirFeats(s, d)
    val buckets = dsirBuckets(feats)
    val lamT = dsirLam(buckets)
    val totRow = buckets
      .agg(sum(col("rc")).as("rt"), sum(col("tc")).as("tt")).head()
    val (rt, tt) =
      if (totRow.isNullAt(0)) (0L, 0L)
      else (totRow.getLong(0), totRow.getLong(1))
    val dflt = (math.log(1.0 / (tt + DsirB)) -
      math.log(1.0 / (rt + DsirB))) / math.log(2.0)
    val arr = Array.fill(DsirB)(dflt)
    lamT.collect().foreach(r => arr(r.getLong(0).toInt) = r.getDouble(1))
    val meanRow = dsirWdoc(feats, lamT)
      .agg(round(avg(col("raw_w")), 4).as("mean_w")).head()
    val mean = if (meanRow.isNullAt(0)) 0.0 else meanRow.getDouble(0)
    (arr, mean)
  }

  /** Stateless DSIR scorer: the per-doc weight as ONE map-only
    * expression over the token array — λ lookups are O(1) element_at
    * into the dense array literal, no shuffle, no state — so it runs
    * UNCHANGED on a STREAMING corpus ("score the crawl as it lands",
    * the production shape pp15's trained model exists for). Weight
    * arithmetic differs from the batch query only in float-summation
    * order (sequential over tokens vs grouped per bucket); the round-4
    * output absorbs that (documented margins ≥3.8e-9 vs ~1e-12
    * accumulation noise), and PipelineSpec + DsirStreamSpec pin batch-
    * and stream-parity against the oracle-gated pp15. */
  def dsirScore(docs: DataFrame, lam: Array[Double], meanW: Double): DataFrame = {
    val lamLit = lit(lam)
    val t = split(lower(col("text")), " ")
    docs
      .withColumn("raw_w",
        aggregate(t, lit(0.0), (acc, w) =>
          acc + element_at(lamLit,
            ((conv(substring(md5(w), 1, 5), 16, 10).cast("long") % DsirB)
              + 1).cast("int"))) / size(t).cast("double"))
      .select(col("doc_id"), col("lang"),
        size(t).cast("long").as("n_tokens"),
        round(col("raw_w"), 4).as("dsir_w"),
        (round(col("raw_w"), 4) > meanW).as("selected"))
  }

  /** pp15's full selection output (doc_id, lang, n_tokens, dsir_w,
    * selected) — the table a production pipeline MATERIALIZES before
    * training (every downstream consumer reads it: the selection
    * itself, qa08's shift report twice over). Doc-sized (one row per
    * document), DISK_ONLY, memoized per (session, dir) — without this,
    * qa08's two references re-ran the λ+weight chain twice per
    * invocation. */
  private val dsirSelMemo = graft.SessionMemo.frames[String]

  private def dsirSelected(s: SparkSession, d: String): DataFrame =
    dsirSelMemo.get(s, d) {
      val feats = dsirFeats(s, d)
      val wdoc = dsirWdoc(feats, dsirLam(dsirBuckets(feats)))
      val mean = wdoc.agg(round(avg(col("raw_w")), 4).as("mean_w"))
      wdoc.crossJoin(broadcast(mean))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          round(col("raw_w"), 4).as("dsir_w"),
          (round(col("raw_w"), 4) > col("mean_w")).as("selected"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The canonical cleaning pipeline: corpus (with planted duplicates) →
    // quality gate → exact-dedup keep-first → surviving docs + stats.
    // One declarative plan: Catalyst fuses the gate into the scan and the
    // dedup is one hash shuffle.
    "pp01_clean_corpus" -> { (s, d) =>
      val docs = Tables.load(s, d, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.union(docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val gated = corpus
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .filter(col("n_tokens") >= 30)
      val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      gated
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("n_tokens"))
    },

    // The near-dup tier of pp01: quality gate → MinHash-LSH candidate
    // pairs → greedy keep-lowest-id survivor set. At the j≥0.4 drop
    // threshold the 32-band LSH candidate set is NOT deterministically
    // complete (miss probability (1-j²)^32 ≈ 0.4% per pair near the
    // threshold) — but every hash in dd03's pipeline is md5-derived, so
    // the oracle (Dedup.pp02OracleSql) replays candidate generation
    // itself and certifies the APPROXIMATION: a near-threshold pair that
    // lands in no band is absent from both engines by construction.
    // PipelineSpec additionally asserts planted copies are eliminated
    // and originals survive.
    "pp02_near_dedup_corpus" -> { (s, d) =>
      val pairs = graft.ops.Dedup.minhashPairs(s, d)
      val corpusIds = graft.ops.Dedup.nearCorpusIds(s, d)
      val dropped = pairs.select(col("b").as("doc_id")).distinct()
      corpusIds.join(dropped, Seq("doc_id"), "left_anti")
    },

    // Fact-stream enrichment: events joined to the customer→nation dims,
    // aggregated per nation × event type. The streaming twin is the same
    // plan over readStream (dim joins broadcast in both modes).
    "ev05_enriched_by_nation" -> { (s, d) =>
      val ev = Tables.load(s, d, "events")
      val c = Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val n = Tables.dim(s, d, "nation")
      ev.join(c, col("user_id") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum6(col("value")).as("sum_value"))
    },

    // Deterministic train/val/test split: bucket by a hex prefix of
    // md5(doc_id) — reproducible on any engine, any cluster size, any
    // run (unlike rand()-based sampling), and map-only: no shuffle
    // until the exposure agg. 'cc'/'e6' hex cutoffs ≈ 80/10/10.
    "pp03_hash_split" -> { (s, d) =>
      val b = substring(md5(col("doc_id").cast("string")), 1, 2)
      val split = when(b < "cc", "train").when(b < "e6", "val").otherwise("test")
      Tables.load(s, d, "documents")
        .select(col("doc_id"), split.as("split"), col("n_chars"))
    },

    // Cross-split near-dup LEAKAGE audit: val/test docs whose near-dup
    // cluster also holds a train doc — the contamination a hash split
    // (pp03) cannot see, because near-duplicates hash to independent
    // splits (Lee et al. 2022 §6.2's train/valid overlap measurement).
    // Everything heavy is already materialized: the dd08 cluster map is
    // the memoized/IndexStore-persisted table, so this audit is two
    // joins and one tiny per-cluster aggregate over it — at 100 TB it
    // reads the persisted cluster table, never re-runs LSH. Cluster
    // member ids collapse to their base doc (the %CopyOffset planted
    // copies are the same underlying document) before consulting the
    // split, so a doc's own mutated copy never counts as "leakage".
    "pp13_split_leakage" -> { (s, d) =>
      val b = substring(md5(col("doc_id").cast("string")), 1, 2)
      val split = when(b < "cc", "train").when(b < "e6", "val").otherwise("test")
      val sp = Tables.load(s, d, "documents")
        .select(col("doc_id").cast("long").as("base_id"), split.as("split"))
      val members = graft.ops.Dedup.clusterMap(s, d)
        .select((col("doc_id") % graft.ops.Dedup.CopyOffset).as("base_id"),
          col("cluster_rep").cast("long").as("cluster_rep"))
        .distinct()
        .join(sp, Seq("base_id"))
      val trainPerCluster = members.filter(col("split") === "train")
        .groupBy(col("cluster_rep"))
        .agg(count(lit(1)).as("n_train_members"))
      members.filter(col("split") =!= "train")
        .join(trainPerCluster, Seq("cluster_rep"))
        .select(col("base_id").as("doc_id"), col("split"),
          col("cluster_rep"), col("n_train_members"))
    },

    // Corpus upsert / compaction (the SCD-1 merge): apply an update
    // batch (every 7th doc re-crawled, version 2) onto the standing
    // corpus, keeping the latest version per key. One shuffle on the
    // key; at 100 TB this is the daily merge-compaction over a
    // partitioned corpus table, and the window is per-key bounded
    // state. The version column makes the merge order explicit rather
    // than relying on union order.
    "pp09_corpus_merge" -> { (s, d) =>
      val docs = Tables.load(s, d, "documents").select(col("doc_id"), col("text"))
      val standing = docs.select(col("doc_id"), col("text"), lit(1L).as("version"))
      val updates = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), upper(col("text")).as("text"), lit(2L).as("version"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("version").desc)
      standing.union(updates)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("version"), md5(col("text")).as("content_md5"))
    },

    // Stable global id assignment (the "give every crawl record a dense
    // 1..N id" op): global row number over (source, doc_id) WITHOUT the
    // classic one-task global sort — the exclusive two-pass prefix sum
    // of 1s (range partition → N parallel window counts → broadcast
    // offset add; no SinglePartition anywhere, pinned by PrefixSumSpec)
    // plus 1 IS the global row number in that total order.
    "pp10_assign_ids" -> { (s, d) =>
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"))
      graft.ops.PrefixSum.globalCumsum(docs, lit(1L),
          Seq(col("source"), col("doc_id")), "new_id", inclusive = false)
        .select(col("doc_id"), col("source"), (col("new_id") + 1L).as("new_id"))
    },

    // The dedup pipeline's CAPSTONE: apply dd08's near-dup cluster map
    // to the corpus — drop every cluster member except its
    // representative, then hand the survivors dense 1..N ids (pp10's
    // two-pass prefix sum, no single-task global sort). This is the
    // operator that actually EMITS the training corpus: candidate pairs
    // (dd03) → clusters (dd08) → keep-reps + re-id (here). One
    // anti-join shuffle on doc_id against the memoized cluster map plus
    // the bounded cumsum plan; at 100 TB the cluster map is the
    // persisted table every downstream consumer reads.
    "pp12_dedup_apply" -> { (s, d) =>
      val dropped = graft.ops.Dedup.clusterMap(s, d)
        .filter(col("doc_id") =!= col("cluster_rep"))
        .select(col("doc_id"))
      val kept = graft.ops.Dedup.nearCorpusIds(s, d)
        .join(dropped, Seq("doc_id"), "left_anti")
      graft.ops.PrefixSum.globalCumsum(kept, lit(1L),
          Seq(col("doc_id")), "new_id", inclusive = false)
        .select(col("doc_id"), (col("new_id") + 1L).as("new_id"))
    },

    // Language-balanced stratified sampling: downsample every language
    // to the minority language's size with a DETERMINISTIC hash gate —
    // rate_l = min_count / count_l, keep iff the first 6 hex chars of
    // md5(doc_id) fall below the rate cutoff (fixed-width lowercase hex
    // compares like the number it encodes). Two tiny aggregates
    // (per-lang counts, global min) broadcast back onto a map-only
    // filter over the corpus — no shuffle of document rows at all, and
    // the same doc is selected on any engine or cluster size, unlike
    // rand()-based sampling. This is the "rebalance the training mix"
    // op at its 100 TB shape.
    "pp08_stratified_sample" -> { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
      val minc = counts.agg(min(col("cnt")).as("min_cnt"))
      val rate = col("min_cnt").cast("double") / col("cnt")
      val cutoff = lower(lpad(hex(floor(rate * 16777216L).cast("long")), 6, "0"))
      docs.join(broadcast(counts), "lang")
        .crossJoin(broadcast(minc))
        .filter(col("cnt") === col("min_cnt") ||
          substring(md5(col("doc_id").cast("string")), 1, 6) < cutoff)
        .select(col("doc_id"), col("lang"))
    },

    // Per-source quota sampling: keep at most 30 docs per source (by
    // doc_id order) — the "cap any one domain's share of the corpus"
    // op. One shuffle on source; rank state is bounded per key, and
    // WindowGroupLimit stops each group at the quota at scan time.
    "pp04_source_quota" -> { (s, d) =>
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      Tables.load(s, d, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 30)
        .select(col("doc_id"), col("source"), col("rn").cast("int").as("rn"))
    },

    // Token-budget selection: greedily keep the largest docs until a
    // char budget is exhausted (the "fill the training mix to N tokens"
    // op). The global ordered cumsum runs as the two-pass distributed
    // prefix sum (PrefixSum.globalCumsum: range partition → parallel
    // per-partition cumsums → broadcast offset add) — no single-partition
    // sort anywhere in the plan (pinned by PrefixSumSpec).
    "pp05_token_budget" -> { (s, d) =>
      val pruned = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("n_chars"))
      graft.ops.PrefixSum.globalCumsum(pruned, col("n_chars"),
          Seq(col("n_chars").desc, col("doc_id")), "cum_chars")
        .filter(col("cum_chars") <= 50000)
        .select(col("doc_id"), col("n_chars"), col("cum_chars"))
    },

    // Sequence packing (GPT-style): concatenate the token stream in
    // doc_id order and assign each document the 2048-token bin where it
    // starts (docs may span bins — the training-time packer splits
    // them; this op computes the placement map). The exclusive global
    // cumsum is the same two-pass prefix sum as pp05 — note the text
    // column is dropped BEFORE the prefix-sum shuffles, so the ranged
    // pass moves (doc_id, n_tokens) pairs, never document bodies.
    "pp06_sequence_pack" -> { (s, d) =>
      val withTok = Tables.load(s, d, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
      graft.ops.PrefixSum.globalCumsum(withTok, col("n_tokens"),
          Seq(col("doc_id")), "cum_before", inclusive = false)
        .select(col("doc_id"), col("n_tokens"),
          floor(col("cum_before") / 2048).as("bin_id"),
          (col("cum_before") % 2048).as("offset_in_bin"))
    },

    // Benchmark decontamination: flag training docs that share any word
    // 5-gram with a held-out benchmark set (doc_id % 20 == 0 — the
    // standard "does my corpus contain the eval set" sweep). Scale
    // shape: the benchmark gram set is tiny by construction (eval
    // benchmarks are MBs against a 100 TB corpus), so it broadcasts;
    // the corpus side is map-only explode + one agg shuffle on doc_id.
    "dc01_decontaminate" -> { (s, d) =>
      // (round 16: a Tables.spread of the docs was tried and REJECTED
      // by measurement — wall flat, total task time 0.6 s → 17 s from
      // 32-way allocation contention on the split/gram buffers)
      val docs = Tables.load(s, d, "documents")
        .withColumn("t", split(lower(col("text")), " "))
        .filter(size(col("t")) >= 5)
        // let-bound gram builder: one split per row, not per gram —
        // see TextAnalysis.wordGrams for why the naive transform is
        // O(words²) after projection collapse
        .withColumn("g", graft.ops.TextAnalysis.wordGrams(col("t"), 5))
      // explode_outer: a plain explode's Generate adds size(g)>0 and
      // isnotnull(g) filter conditions that each re-evaluate the whole
      // gram array per row; outer mode skips them, and the null rows it
      // could add never match an equi-join key / count as distinct
      val bench = docs.filter(col("doc_id") % 20 === 0)
        .select(explode_outer(col("g")).as("g")).distinct()
      val corpus = docs.filter(col("doc_id") % 20 =!= 0)
      val hits = corpus.select(col("doc_id"), explode_outer(col("g")).as("g"))
        .join(broadcast(bench), "g")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("g")).as("n_hit_grams"))
      corpus.select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
          (coalesce(col("n_hit_grams"), lit(0L)) > 0).as("contaminated"))
    },

    // Contamination SCRUB — dc01 flags contaminated docs; this is the
    // surgical form production decontamination actually ships (the
    // GPT-3 appendix-C method): cut ONLY the token spans covered by a
    // benchmark-overlapping 5-gram and keep the rest of the document,
    // instead of dropping the whole doc (which throws away the ~99% of
    // a long page that isn't the quoted benchmark item). Composition
    // of two existing kernels: dc01's broadcast gram probe finds the
    // hit POSITIONS (posexplode of the same gram array), each hit
    // becomes a [pos, pos+5) interval, and dd13's scrub kernel
    // (scrubReport → the fused SpanFilter codegen expression, which
    // merges unsorted/overlapping spans itself) cuts them from the
    // ORIGINAL tokens — lowercasing never changes token boundaries, so
    // match positions computed on the lowercased stream align with the
    // raw tokens. Scale shape: benchmark grams broadcast (MBs vs
    // 100 TB), the corpus side is one map-only explode + the per-doc
    // span collect — same shuffle budget as dc01 plus one doc_id agg.
    "dc03_decontaminate_scrub" -> { (s, d) =>
      val K = 5
      val docs = Tables.load(s, d, "documents")
      val withG = docs
        .withColumn("t", split(lower(col("text")), " "))
        .filter(size(col("t")) >= K)
        .withColumn("g", graft.ops.TextAnalysis.wordGrams(col("t"), K))
      val bench = withG.filter(col("doc_id") % 20 === 0)
        .select(explode_outer(col("g")).as("g")).distinct()
      val spans = withG.filter(col("doc_id") % 20 =!= 0)
        .select(col("doc_id"), posexplode_outer(col("g")).as(Seq("pos", "g")))
        .join(broadcast(bench), "g")
        .select(col("doc_id"), col("pos").cast("long").as("span_start"),
          (col("pos") + K).cast("long").as("span_end"))
      graft.ops.Dedup.scrubReport(
        docs.filter(col("doc_id") % 20 =!= 0)
          .select(col("doc_id"), col("text")),
        spans)
    },

    // SEMANTIC decontamination — the embedding-space sibling of dc01's
    // n-gram sweep (paraphrased or translated benchmark items share no
    // 5-gram with the eval set; they DO sit next to it in embedding
    // space). Flag every corpus vector whose max cosine against any
    // eval vector clears the threshold, reporting the nearest eval item
    // (argmax, ties to the smaller id) as the removal's evidence trail.
    //
    // Scale shape — ZERO corpus shuffle: the eval set is tiny by
    // construction (benchmarks are MBs against a 100 TB corpus), so it
    // ships as ONE broadcast row holding the whole set; the per-vector
    // max is a fold (`aggregate`) over that array — map-only, no
    // groupBy, where the crossJoin+window alternative shuffles a row
    // per corpus vector. The corpus norm is computed ONCE per row
    // (not per eval item, 50× the flops at 100 TB), eval norms once at
    // broadcast build. The fold keeps (max cos, min id on ties), which
    // is order-independent, so collect_list's nondeterministic order
    // never reaches the result. Exactness: VecDot's sequential double
    // fold replays DuckDB's list_dot_product bit-for-bit (dd06/ss01's
    // established kernel) and max/tie-compare are exact on doubles.
    "dc04_decontaminate_embed" -> { (s, d) =>
      val all = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      // deterministic pseudo-random eval set, dd06's md5-order sample
      val eval = all
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(50)
        .select(col("vec_id").as("e_id"), col("embedding").as("e_vec"))
      val corpus = all.join(broadcast(eval.select(col("e_id"))),
        col("vec_id") === col("e_id"), "left_anti")
      decontaminateEmbed(corpus, eval, tau = 0.35)
    },

    // Temperature-scaled language resampling (the LLM data-mixture op:
    // flatten the language distribution TOWARD uniform, τ = 0.5 — the
    // multilingual rebalance every multilingual training mix applies).
    // Target weights ∝ p_l^τ give per-language keep rate sqrt(n_min/n_l)
    // — the rarest language is kept whole, the English head is
    // downsampled toward it. pp08 is the τ = 0 limit of this op (hard
    // flattening to the minority size); temperature sampling keeps
    // head-language mass in proportion to its square root instead of
    // discarding it. Every arithmetic step is IEEE correctly-rounded in BOTH
    // engines (integer-count division, sqrt, dyadic uniform = 13 md5
    // hex digits / 2^52), so the per-doc keep decision is bit-exact and
    // the sample is deterministic — re-running the pipeline reproduces
    // the corpus byte-for-byte, which is what makes a training-data
    // freeze auditable. Shape: one count agg on the bounded source key,
    // a one-row broadcast of n_min, a hint-free rate join, then a
    // map-side threshold — no shuffle of document rows beyond the join.
    "pp11_temperature_sample" -> { (s, d) =>
      val docs = Tables.load(s, d, "documents").select(col("doc_id"), col("lang"))
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
      val nmin = counts.agg(min(col("n_l")).as("n_min"))
      val rate = counts.crossJoin(broadcast(nmin))
        .withColumn("keep_rate", sqrt(col("n_min").cast("double") / col("n_l")))
        .select(col("lang"), col("keep_rate"))
      docs.join(rate, "lang")
        .withColumn("u",
          conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
            .cast("long").cast("double") / lit(4503599627370496.0))
        .filter(col("u") < col("keep_rate"))
        .select(col("doc_id"), col("lang"), col("keep_rate"))
    },

    // Weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006,
    // "Weighted random sampling with a reservoir"): where pp08/pp11
    // subsample by per-GROUP rates, this selects individual docs with
    // probability proportional to a per-DOC weight — the
    // importance-weighted data-selection op (quality-score or
    // length-weighted training mixes). Each doc draws the E-S key
    // ln(u)/w (u a dyadic md5 uniform in (0,1], w = n_chars); the
    // top-10 keys per source ARE a weighted sample without
    // replacement — one window shuffle on the bounded stratum key,
    // WindowGroupLimit stops each group at k at scan time, and
    // because u is derived from doc_id, the draw is reproducible
    // byte-for-byte across runs and engines (the pp11 auditable-freeze
    // argument). u ∈ (0,1] (numerator h+1 ≤ 2^52, denominator 2^52+1,
    // both exactly representable) so ln never sees 0; weight is
    // clamped ≥ 1 so a degenerate zero-length doc cannot put 0/0 NaN
    // ordering in the window. At 10⁹ docs per source the same plan
    // holds: the partial WindowGroupLimit keeps each map task's local
    // top-10 per source before the shuffle.
    "pp14_weighted_sample" -> { (s, d) =>
      val w = Window.partitionBy(col("source"))
        .orderBy(col("key").desc, col("doc_id"))
      Tables.load(s, d, "documents")
        .withColumn("u",
          (conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
            .cast("long") + 1).cast("double") / lit(4503599627370497.0))
        .withColumn("key",
          log(col("u")) / greatest(coalesce(col("n_chars"), lit(1L)), lit(1L))
            .cast("double"))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 10)
        .select(col("doc_id"), col("source"), col("n_chars"), col("rank"))
    },

    // DSIR importance resampling (Xie et al. 2023, "Data Selection via
    // Importance Resampling"): score each document by how much its
    // hashed-feature distribution resembles a TARGET corpus (the
    // English slice — the trusted-set stand-in) versus the RAW corpus,
    // and select docs whose per-token log-likelihood ratio is positive.
    // The scale property that distinguishes this from a vocabulary LM
    // filter (tx12): token features hash into B=1024 FIXED buckets, so
    // the learned log-ratio table λ is 1024 rows REGARDLESS of corpus
    // size — it broadcasts at 100 TB where a vocab-sized table cannot,
    // and the whole selector is one explode+agg shuffle on
    // (doc_id, lang, bucket) with map-side combine, two B-row bucket
    // marginals, a broadcast λ join back, and one agg on doc_id.
    // Determinism: bucket = md5-derived (ev16's conv idiom, replayed in
    // DuckDB digit-by-digit); each λ term is an exact integer ratio fed
    // to log2 with an identical expression tree in both engines; the
    // per-token weight rounds to 4 decimals (tx12's noise-vs-boundary
    // argument: closest weight sits 3.8e-9 from a boundary at sf0.001,
    // noise ~1e-13). `selected` compares ROUNDED weight to the ROUNDED
    // corpus mean (the absolute-zero threshold is degenerate here —
    // the synthetic langs share most vocabulary, so every per-token
    // ratio is slightly negative); the mean sits ≥1.5e-5 from its own
    // round boundary at both SFs, and rounded-vs-rounded comparison is
    // then engine-independent. Selects ~48% of the corpus, en-skewed.
    "pp15_dsir_sample" -> { (s, d) => dsirSelected(s, d) },

    // Selection-shift QA over pp15 (the report a mixing dashboard
    // shows before anyone trains on the selected corpus): per language,
    // docs and tokens before/after DSIR selection, plus each language's
    // token SHARE of the raw vs the selected corpus — the quantity that
    // says how hard the selector reshaped the mix. Derived entirely
    // from pp15's (already oracle-gated) output: one per-lang agg and a
    // 1-row broadcast of the corpus totals. Integer counts; the shares
    // are exact integer ratios in double (tx09's bit-identical
    // rationale — no rounding needed).
    "qa08_dsir_shift" -> { (s, d) =>
      val w = queries("pp15_dsir_sample")(s, d)
      val tot = w.agg(sum(col("n_tokens")).as("tok_all"),
        sum(when(col("selected"), col("n_tokens")).otherwise(0L)).as("tok_sel"))
      w.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("selected"), 1L).otherwise(0L)).as("n_sel"),
          sum(col("n_tokens")).as("toks"),
          sum(when(col("selected"), col("n_tokens")).otherwise(0L))
            .as("toks_sel"))
        .crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"), col("n_sel"),
          col("toks"), col("toks_sel"),
          (col("toks").cast("double") / col("tok_all").cast("double"))
            .as("share_before"),
          // NULL when nothing selected (a 1-row corpus selects zero
          // docs) — DuckDB's division-by-zero convention, and ANSI
          // Spark would otherwise throw
          when(col("tok_sel") === 0L, lit(null).cast("double"))
            .otherwise(col("toks_sel").cast("double") /
              col("tok_sel").cast("double")).as("share_after"))
    },

    // Decontamination at web scale: dc01's broadcast of the benchmark
    // GRAM STRINGS caps out when the benchmark suite grows (the same
    // unbounded-broadcast class as the tx09 vocabulary hint). Here the
    // benchmark side ships as an O(bits) bloom filter instead — built
    // with a distributed tree-aggregate, applied MAP-SIDE before any
    // shuffle — and the surviving (doc_id, gram) pairs are confirmed
    // with a plain equi-join (no hint; AQE picks the strategy), which
    // removes the bloom's false positives. The result is therefore
    // EXACT — same oracle as dc01 — while the shuffled probe side
    // shrinks from |corpus grams| to |true hits| + fpp·|corpus grams|.
    "dc02_decontaminate_bloom" -> { (s, d) =>
      val docs = Tables.load(s, d, "documents")
        .withColumn("t", split(lower(col("text")), " "))
        .filter(size(col("t")) >= 5)
        .withColumn("g", graft.ops.TextAnalysis.wordGrams(col("t"), 5))
      val bench = docs.filter(col("doc_id") % 20 === 0)
        .select(explode_outer(col("g")).as("g")).distinct()
      val corpus = docs.filter(col("doc_id") % 20 =!= 0)
      // filter size is set by (expectedItems, fpp) — a config of the
      // benchmark suite's size, ~1.2 MB here — never by corpus scale.
      // Memoized per (session, dir): the filter is a property of the
      // benchmark suite, built once and reused across queries/reps
      // (the IvfIndex build/probe split, in miniature).
      val bloom = bloomCache.get(s, d) {
        graft.functions.Bloom.build(bench, col("g"),
          expectedItems = 1000000L, fpp = 0.01)
      }
      val candidates = corpus
        .select(col("doc_id"), explode_outer(col("g")).as("g"))
        .filter(graft.functions.Bloom.mightContain(bloom, col("g")))
      val hits = candidates.join(bench, "g")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("g")).as("n_hit_grams"))
      corpus.select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
          (coalesce(col("n_hit_grams"), lit(0L)) > 0).as("contaminated"))
    },

    // Overlapping character chunking (RAG/context-window prep): size-200
    // windows at stride 150, one row per chunk with its md5. Map-only —
    // explode of an arithmetic sequence, no shuffle at any scale.
    "pp07_chunk_overlap" -> { (s, d) =>
      Tables.load(s, d, "documents")
        .filter(length(col("text")) > 0)
        .withColumn("start",
          explode(sequence(lit(1), length(col("text")), lit(150))))
        .select(col("doc_id"),
          ((col("start") - 1) / 150).cast("int").as("chunk_idx"),
          length(expr("substring(text, start, 200)")).as("chunk_len"),
          md5(expr("substring(text, start, 200)")).as("chunk_md5"))
    },

    // Multimodal frame sampling: one row per fixed-size frame of the
    // binary payload, length computed from the REAL binary slice
    // (substring on binary) — the batch shape a video/audio frame
    // extractor runs in, with the decode kernel stubbed (see Multimodal).
    "mm02_frame_sample" -> { (s, d) =>
      Tables.load(s, d, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .withColumn("n_bytes", length(col("payload")))
        // empty payloads must emit no frames: sequence(0, -1) would
        // yield the descending array [0, -1] (two spurious frames),
        // where the oracle's range(0, 0) yields none
        .filter(col("n_bytes") > 0)
        .select(col("doc_id"), col("n_bytes"), col("payload"),
          posexplode(sequence(lit(0),
            greatest(ceil(col("n_bytes") / 256.0).cast("int") - 1, lit(0)))))
        .withColumnRenamed("col", "frame_idx")
        .drop("pos")
        .withColumn("frame_len",
          length(expr("substring(payload, frame_idx * 256 + 1, 256)")))
        .select(col("doc_id"), col("frame_idx").cast("int").as("frame_idx"),
          col("frame_len").cast("int").as("frame_len"))
    }
  )

  // The DSIR replay's CTE chain, shared by pp15 and qa08 so the
  // pipeline SQL (bucket md5, λ arithmetic, mean threshold) exists
  // exactly once (the Dedup.pp02OracleSql precedent).
  private lazy val dsirCtes: String =
    """toksr AS (
      |  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
      |  FROM documents
      |), feats AS (
      |  SELECT doc_id, lang,
      |    list_sum([ CAST(strpos('0123456789abcdef',
      |        substr(md5(w), i, 1)) - 1 AS BIGINT)
      |      * ([65536,4096,256,16,1])[i] FOR i IN range(1, 6) ]) % 1024 AS b,
      |    COUNT(*) AS c
      |  FROM toksr GROUP BY 1, 2, 3
      |), buckets AS (
      |  SELECT b, CAST(SUM(c) AS BIGINT) AS rc,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS BIGINT) AS tc
      |  FROM feats GROUP BY b
      |), tot AS (
      |  SELECT CAST(SUM(rc) AS BIGINT) AS rt,
      |         CAST(SUM(tc) AS BIGINT) AS tt
      |  FROM buckets
      |), lam AS (
      |  SELECT b,
      |    log2(CAST(tc + 1 AS DOUBLE) / (tt + 1024)) -
      |    log2(CAST(rc + 1 AS DOUBLE) / (rt + 1024)) AS lam
      |  FROM buckets CROSS JOIN tot
      |), wdoc AS (
      |  SELECT doc_id, lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |    SUM(c * lam) / CAST(SUM(c) AS DOUBLE) AS raw_w
      |  FROM feats JOIN lam USING (b)
      |  GROUP BY doc_id, lang
      |), m AS (SELECT round(avg(raw_w), 4) AS mean_w FROM wdoc)""".stripMargin

  private lazy val pp15Sql: String =
    s"""WITH $dsirCtes
       |SELECT doc_id, lang, n_tokens, round(raw_w, 4) AS dsir_w,
       |  round(raw_w, 4) > mean_w AS selected
       |FROM wdoc CROSS JOIN m""".stripMargin

  def oracle: Map[String, String] = Map(
    // full LSH-pipeline replay + survivor rule; built in Dedup so the
    // pipeline SQL (shingle md5, permutation constants, banding) exists
    // exactly once
    "pp02_near_dedup_corpus" -> graft.ops.Dedup.pp02OracleSql,

    "pp01_clean_corpus" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |), gated AS (
        |  SELECT doc_id, text, len(string_split(text, ' ')) AS n_tokens
        |  FROM corpus WHERE len(string_split(text, ' ')) >= 30
        |)
        |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens FROM (
        |  SELECT doc_id, n_tokens,
        |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM gated) t
        |WHERE rn = 1""".stripMargin,

    "ev05_enriched_by_nation" ->
      """SELECT n_name, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events
        |JOIN customer ON user_id = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name, event_type""".stripMargin,

    "pp03_hash_split" ->
      """SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |       ELSE 'test' END AS split,
        |  n_chars
        |FROM documents""".stripMargin,

    // pp13: the dd08 recursive-CTE cluster map (qa06's pattern) joined
    // against pp03's split rule; members collapse to base ids first so
    // a doc's own planted copy never reads as cross-split leakage
    "pp13_split_leakage" ->
      s"""WITH cm AS (SELECT * FROM (${graft.ops.Dedup.dd08OracleSql}) z),
         |sp AS (
         |  SELECT CAST(doc_id AS BIGINT) AS base_id,
         |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
         |           THEN 'train'
         |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
         |           THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents),
         |members AS (
         |  SELECT DISTINCT CAST(doc_id % 1000000 AS BIGINT) AS base_id,
         |    CAST(cluster_rep AS BIGINT) AS cluster_rep
         |  FROM cm),
         |ms AS (SELECT m.base_id, m.cluster_rep, s.split
         |       FROM members m JOIN sp s USING (base_id)),
         |tr AS (SELECT cluster_rep,
         |         CAST(COUNT(*) AS BIGINT) AS n_train_members
         |       FROM ms WHERE split = 'train' GROUP BY cluster_rep)
         |SELECT ms.base_id AS doc_id, ms.split, ms.cluster_rep,
         |  tr.n_train_members
         |FROM ms JOIN tr USING (cluster_rep)
         |WHERE ms.split <> 'train'""".stripMargin,

    // NULLS FIRST pins the NULL placement: DuckDB defaults ascending
    // sorts to NULLS LAST while Spark's asc is nulls-first — without the
    // pin a NULL source value would silently shift every assigned id
    // between engines
    "pp10_assign_ids" ->
      """SELECT doc_id, source,
        |  ROW_NUMBER() OVER (ORDER BY source NULLS FIRST, doc_id) AS new_id
        |FROM documents""".stripMargin,

    // pp12: the dd08 recursive-CTE cluster map decides the drops, then
    // a plain ROW_NUMBER replays the dense re-id over the survivors
    // (doc_id is NOT NULL, so no NULLS pin is needed here).
    "pp12_dedup_apply" ->
      s"""WITH dropped AS (
         |  SELECT doc_id FROM (${graft.ops.Dedup.dd08OracleSql}) c
         |  WHERE doc_id <> cluster_rep
         |),
         |corpus_ids AS (
         |  SELECT doc_id FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id FROM documents
         |)
         |SELECT doc_id,
         |  ROW_NUMBER() OVER (ORDER BY doc_id) AS new_id
         |FROM corpus_ids
         |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin,

    "pp09_corpus_merge" ->
      """WITH merged AS (
        |  SELECT doc_id, text, 1 AS version FROM documents
        |  UNION ALL
        |  SELECT doc_id, upper(text) AS text, 2 AS version FROM documents
        |  WHERE doc_id % 7 = 0
        |)
        |SELECT doc_id, CAST(version AS BIGINT) AS version,
        |  md5(text) AS content_md5
        |FROM (
        |  SELECT doc_id, text, version,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn
        |  FROM merged) t
        |WHERE rn = 1""".stripMargin,

    "pp08_stratified_sample" ->
      """WITH counts AS (
        |  SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
        |), m AS (SELECT MIN(cnt) AS min_cnt FROM counts)
        |SELECT doc_id, lang
        |FROM documents JOIN counts USING (lang) CROSS JOIN m
        |WHERE cnt = min_cnt
        |   OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) <
        |      lower(lpad(to_hex(CAST(floor(CAST(min_cnt AS DOUBLE) / cnt
        |        * 16777216) AS BIGINT)), 6, '0'))""".stripMargin,

    "pp04_source_quota" ->
      """SELECT doc_id, source, CAST(rn AS INT) AS rn FROM (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 30""".stripMargin,

    "pp05_token_budget" ->
      """SELECT doc_id, n_chars, CAST(cum_chars AS BIGINT) AS cum_chars FROM (
        |  SELECT doc_id, n_chars,
        |    SUM(n_chars) OVER (ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_chars
        |  FROM documents) t
        |WHERE cum_chars <= 50000""".stripMargin,

    "pp06_sequence_pack" ->
      """SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
        |  CAST(FLOOR(cum_before / 2048) AS BIGINT) AS bin_id,
        |  CAST(cum_before % 2048 AS BIGINT) AS offset_in_bin
        |FROM (
        |  SELECT doc_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |        FROM documents) z) y""".stripMargin,

    "dc01_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    [array_to_string(t[i:i+4], ' ') FOR i IN range(1, len(t) - 3)] AS gs
        |  FROM t WHERE len(t) >= 5
        |), bench AS (
        |  SELECT DISTINCT unnest(gs) AS g FROM g WHERE doc_id % 20 = 0
        |), corpus AS (
        |  SELECT doc_id, gs FROM g WHERE doc_id % 20 <> 0
        |), hits AS (
        |  SELECT c.doc_id, count(DISTINCT c.g) AS n
        |  FROM (SELECT doc_id, unnest(gs) AS g FROM corpus) c
        |  JOIN bench b USING (g) GROUP BY c.doc_id
        |)
        |SELECT c.doc_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hit_grams,
        |  coalesce(h.n, 0) > 0 AS contaminated
        |FROM corpus c LEFT JOIN hits h USING (doc_id)""".stripMargin,

    // dc03: the hit positions replay dc01's gram probe with an index;
    // the span cut replays as the NOT EXISTS covering check (the dd13
    // oracle's pattern — no merge needed, coverage is coverage); docs
    // with every token cut (or empty text) hash to md5('') on both
    // sides.
    "dc03_decontaminate_scrub" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS lt,
        |    string_split(text, ' ') AS t
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    [array_to_string(lt[i:i+4], ' ') FOR i IN range(1, len(lt) - 3)] AS gs
        |  FROM t WHERE len(lt) >= 5
        |), bench AS (
        |  SELECT DISTINCT unnest(gs) AS g FROM g WHERE doc_id % 20 = 0
        |), hitpos AS (
        |  SELECT x.doc_id, x.pos FROM (
        |    SELECT gg.doc_id, u.i AS pos, gs[u.i + 1] AS g
        |    FROM g gg, UNNEST(range(0, len(gs))) AS u(i)
        |    WHERE gg.doc_id % 20 <> 0) x
        |  JOIN bench b USING (g)
        |), tok AS (
        |  SELECT doc_id, u.i AS pos, t[u.i + 1] AS tok
        |  FROM t, UNNEST(range(0, len(t))) AS u(i)
        |  WHERE doc_id % 20 <> 0
        |), kept AS (
        |  SELECT k.doc_id, k.pos, k.tok FROM tok k
        |  WHERE NOT EXISTS (SELECT 1 FROM hitpos h
        |    WHERE h.doc_id = k.doc_id
        |      AND k.pos >= h.pos AND k.pos < h.pos + 5)
        |), kc AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(len(d.t) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(kc.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(len(d.t) - COALESCE(kc.n_kept, 0) AS BIGINT) AS n_cut,
        |  COALESCE(kc.clean_md5, md5('')) AS clean_md5
        |FROM t d LEFT JOIN kc USING (doc_id)
        |WHERE d.doc_id % 20 <> 0""".stripMargin,

    // dc04: list_dot_product is the same sequential double fold as
    // VecDot (dd06's replayed kernel); ROW_NUMBER (cos DESC, e_id) is
    // the fold's (max cos, ties to smaller id).
    "dc04_decontaminate_embed" ->
      """WITH ev AS (
        |  SELECT vec_id AS e_id, CAST(embedding AS DOUBLE[]) AS evv
        |  FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 50
        |), c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE vec_id NOT IN (SELECT e_id FROM ev)
        |), scored AS (
        |  SELECT c.vec_id, ev.e_id,
        |    list_dot_product(v, evv) /
        |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(evv, evv))) AS cos
        |  FROM c CROSS JOIN ev
        |), best AS (
        |  SELECT vec_id, e_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY cos DESC, e_id) AS rn
        |  FROM scored)
        |SELECT vec_id, e_id AS nearest_eval_id, cos
        |FROM best WHERE rn = 1 AND cos >= 0.35""".stripMargin,

    // pp11's uniform is the first 13 md5 hex digits as a 52-bit integer
    // (hex-digit arithmetic, the dd04 technique) over 2^52; the rate is
    // integer division + sqrt, both correctly rounded — the threshold
    // compare is bit-identical cross-engine.
    "pp11_temperature_sample" -> {
      val hexw13 = (0 until 13).map(i => BigInt(16).pow(12 - i)).mkString("[", ",", "]")
      s"""WITH counts AS (
         |  SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang
         |), nmin AS (
         |  SELECT MIN(n_l) AS n_min FROM counts
         |), rate AS (
         |  SELECT lang, sqrt(CAST(n_min AS DOUBLE) / n_l) AS keep_rate
         |  FROM counts, nmin
         |), u AS (
         |  SELECT doc_id, lang,
         |    list_sum([ CAST(strpos('0123456789abcdef',
         |        substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
         |      * ($hexw13)[i] FOR i IN range(1, 14) ]) AS h
         |  FROM documents
         |)
         |SELECT u.doc_id, u.lang, r.keep_rate
         |FROM u JOIN rate r USING (lang)
         |WHERE CAST(h AS DOUBLE) / 4503599627370496.0 < r.keep_rate""".stripMargin
    },

    // pp14: the same 13-hex-digit dyadic uniform decomposition as
    // pp11, shifted to (0,1] via (h+1)/(2^52+1) (both sides of the
    // division exactly representable), then the E-S key ln(u)/w and
    // the per-source top-10 window. ln is the one non-correctly-
    // rounded op in the chain; it matters only if two keys straddle
    // the rank-10 boundary within an ulp (the tx16 boundary-distance
    // argument), and the hash gate at both SFs certifies they don't.
    "pp14_weighted_sample" -> {
      val hexw13 = (0 until 13).map(i => BigInt(16).pow(12 - i)).mkString("[", ",", "]")
      s"""WITH u AS (
         |  SELECT doc_id, source, n_chars,
         |    list_sum([ CAST(strpos('0123456789abcdef',
         |        substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
         |      * ($hexw13)[i] FOR i IN range(1, 14) ]) AS h
         |  FROM documents
         |), k AS (
         |  SELECT doc_id, source, n_chars,
         |    ln(CAST(h + 1 AS DOUBLE) / 4503599627370497.0)
         |      / CAST(greatest(coalesce(n_chars, 1), 1) AS DOUBLE) AS key
         |  FROM u
         |)
         |SELECT doc_id, source, n_chars, CAST(rank AS INT) AS rank FROM (
         |  SELECT doc_id, source, n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY key DESC, doc_id) AS rank
         |  FROM k) t
         |WHERE rank <= 10""".stripMargin
    },

    // full pipeline replay: md5 bucket hashing (ev16's hex-digit
    // arithmetic), Laplace-smoothed log2 ratios over exact integer
    // counts, round-4 per-token weight — selected compares the ROUNDED
    // weight, so both engines make the same call.
    "pp15_dsir_sample" -> pp15Sql,

    // the pp15 chain + selection flags re-derived, then one per-lang
    // rollup; shares divide exact integer sums (no rounding needed)
    "qa08_dsir_shift" ->
      s"""WITH $dsirCtes,
         |sel AS (
         |  SELECT doc_id, lang, n_tokens,
         |    round(raw_w, 4) > mean_w AS selected
         |  FROM wdoc CROSS JOIN m
         |), stot AS (
         |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tok_all,
         |    CAST(SUM(CASE WHEN selected THEN n_tokens ELSE 0 END)
         |      AS BIGINT) AS tok_sel
         |  FROM sel
         |)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN selected THEN 1 ELSE 0 END) AS BIGINT) AS n_sel,
         |  CAST(SUM(n_tokens) AS BIGINT) AS toks,
         |  CAST(SUM(CASE WHEN selected THEN n_tokens ELSE 0 END) AS BIGINT)
         |    AS toks_sel,
         |  CAST(SUM(n_tokens) AS DOUBLE) / tok_all AS share_before,
         |  CAST(SUM(CASE WHEN selected THEN n_tokens ELSE 0 END) AS DOUBLE)
         |    / tok_sel AS share_after
         |FROM sel CROSS JOIN stot
         |GROUP BY lang, tok_all, tok_sel""".stripMargin,

    // dc02's bloom prefilter is exact after the confirm join, so the
    // oracle is dc01's byte-for-byte: the bloom is an optimization, not
    // a semantics change — that is the point being certified.
    "dc02_decontaminate_bloom" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    [array_to_string(t[i:i+4], ' ') FOR i IN range(1, len(t) - 3)] AS gs
        |  FROM t WHERE len(t) >= 5
        |), bench AS (
        |  SELECT DISTINCT unnest(gs) AS g FROM g WHERE doc_id % 20 = 0
        |), corpus AS (
        |  SELECT doc_id, gs FROM g WHERE doc_id % 20 <> 0
        |), hits AS (
        |  SELECT c.doc_id, count(DISTINCT c.g) AS n
        |  FROM (SELECT doc_id, unnest(gs) AS g FROM corpus) c
        |  JOIN bench b USING (g) GROUP BY c.doc_id
        |)
        |SELECT c.doc_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hit_grams,
        |  coalesce(h.n, 0) > 0 AS contaminated
        |FROM corpus c LEFT JOIN hits h USING (doc_id)""".stripMargin,

    "pp07_chunk_overlap" ->
      """SELECT doc_id,
        |  CAST((start - 1) // 150 AS INT) AS chunk_idx,
        |  CAST(length(substr(text, start, 200)) AS INT) AS chunk_len,
        |  md5(substr(text, start, 200)) AS chunk_md5
        |FROM (
        |  SELECT doc_id, text,
        |    unnest(range(1, length(text) + 1, 150)) AS start
        |  FROM documents WHERE length(text) > 0) t""".stripMargin,

    "mm02_frame_sample" ->
      """SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(LEAST(256, n_bytes - frame_idx * 256) AS INT) AS frame_len
        |FROM (
        |  SELECT doc_id, strlen(text) AS n_bytes,
        |    unnest(range(0, CAST(ceil(strlen(text) / 256.0) AS BIGINT))) AS frame_idx
        |  FROM documents) t""".stripMargin
  )
}
