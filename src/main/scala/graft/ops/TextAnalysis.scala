package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for an LLM training-data pipeline, over the
  * `documents` table: token statistics, quality scoring, content
  * fingerprinting, language ID, corpus word counts.
  *
  * All operators are narrow per-row expressions (whole-stage codegen'd,
  * no shuffle) except the word count, which is a single explode+agg with
  * map-side partial aggregation — the classic scalable wordcount shape.
  */
object TextAnalysis {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  private def toks(c: Column): Column = split(c, " ")

  private val stopwords = Seq("the", "a", "of", "and", "to", "in")

  // Per-language stopword profiles for the n-gram/stopword language-ID
  // heuristic. Overlaps (la/un/de/en) are fine — argmax decides.
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es" -> Seq("el", "los", "las", "de", "y", "es", "una", "en"))

  private def hitCount(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, t => t.isin(words.map(x => x: Any): _*)))

  /** Word n-grams as space-joined strings, with the token array
    * LET-BOUND through a single-element transform. Without the binding,
    * Catalyst's projection collapse inlines the split() feeding
    * `tokens` into every lambda element and into the Generate's
    * emptiness checks, so each gram re-splits the whole document —
    * O(words²) per row (measured 4-5× on dc01). Binding the array as a
    * lambda variable forces one split per evaluation no matter how the
    * plan collapses. */
  def wordGrams(tokens: Column, n: Int): Column =
    element_at(
      transform(array(tokens), tt =>
        when(size(tt) >= n,
          transform(sequence(lit(1), size(tt) - (n - 1)), i =>
            concat_ws(" ", slice(tt, i, lit(n)))))
          .otherwise(array().cast("array<string>"))), 1)

  // The (doc_id, w1, w2) bigram explode SHARED by tx12 and tx21 — the
  // two LM filters consume the identical corpus-sized table, so it is
  // tokenized, exploded and DISK_ONLY-persisted once per (session, dir)
  // (Dedup.pairCache's materialize-the-intermediate-once discipline; a
  // per-call persist leaked one corpus-sized copy per invocation for
  // the session lifetime — the ss09 quantized-leak class). DISK_ONLY
  // because the bigram table scales with the corpus and pinning it in
  // executor memory is what breaks at 100 TB.
  private val bigramMemo = graft.SessionMemo.frames[String]

  private def bigramPairs(s: SparkSession, d: String): DataFrame =
    bigramMemo.get(s, d) {
      docs(s, d)
        .withColumn("t", toks(lower(col("text"))))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"), explode_outer(wordGrams(col("t"), 2)).as("g"))
        .select(col("doc_id"), split(col("g"), " ").getItem(0).as("w1"),
          split(col("g"), " ").getItem(1).as("w2"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting: whitespace tokens, distinct tokens, and a BPE-ish
    // regex tokenization (letter runs / digit runs / single symbols —
    // the pre-tokenizer shape BPE vocabularies train over).
    "tx01_token_stats" -> { (s, d) =>
      docs(s, d).select(col("doc_id"), col("n_chars"),
        size(toks(col("text"))).as("n_tokens"),
        size(array_distinct(toks(col("text")))).as("n_uniq_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))).as("n_tokens_bpe"))
    },

    // Quality scoring: stopword ratio, mean token length, length gate.
    "tx02_quality" -> { (s, d) =>
      docs(s, d)
        .withColumn("n_tokens", size(toks(col("text"))))
        .withColumn("stop_hits", hitCount(toks(col("text")), stopwords))
        .select(col("doc_id"), col("n_tokens"), col("stop_hits"),
          (col("stop_hits").cast("double") / col("n_tokens")).as("stop_ratio"),
          ((length(col("text")) - (col("n_tokens") - 1)).cast("double") / col("n_tokens"))
            .as("avg_token_len"),
          (col("n_tokens") >= 30 && col("stop_hits").cast("double") / col("n_tokens") <= 0.6)
            .as("quality_ok"))
    },

    // Content fingerprint of whitespace-normalized text (md5). The
    // normalize-then-hash shape is the exact-dedup key generator.
    "tx03_fingerprint" -> { (s, d) =>
      docs(s, d).select(col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"))
    },

    // PII scrubbing: regex redaction of emails / phone numbers / IPv4
    // addresses with per-kind hit counts — the privacy-filter pass every
    // training corpus runs before release. The synthetic corpus has no
    // real PII, so deterministic fake PII is appended per doc (presence
    // varies by doc_id mod so the counts are non-trivial) and the op
    // proves it finds and redacts exactly that. Map-only per-row
    // expressions, no shuffle; md5 keeps the verified scrubbed text
    // compact. Patterns stay in the Java∩RE2 common subset so the
    // DuckDB oracle replays them byte-identically.
    "tx13_pii_scrub" -> { (s, d) =>
      val email = "[a-z0-9]+@[a-z0-9.]+\\.[a-z]{2,}"
      val phone = "\\+1-555-[0-9]{4}"
      val ip = "10\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
      val pii = concat(col("text"),
        when(col("doc_id") % 2 === 0, concat(lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 3 === 0, concat(lit(" call +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, concat(lit(" host 10."),
          (col("doc_id") % 256).cast("string"), lit(".0.1"))).otherwise(lit("")))
      docs(s, d).withColumn("t", pii)
        .select(col("doc_id"),
          regexp_count(col("t"), lit(email)).as("n_emails"),
          regexp_count(col("t"), lit(phone)).as("n_phones"),
          regexp_count(col("t"), lit(ip)).as("n_ips"),
          md5(regexp_replace(regexp_replace(regexp_replace(col("t"),
            email, "<EMAIL>"), phone, "<PHONE>"), ip, "<IP>")).as("scrub_md5"))
    },

    // Stopword-profile language ID (argmax of per-language hit counts,
    // tie priority en > de > fr > es), compared against the labeled lang.
    "tx04_langid" -> { (s, d) =>
      val t = toks(lower(col("text")))
      val hits = langProfiles.map { case (l, ws) => l -> hitCount(t, ws) }.toMap
      val pred = when(
          hits("en") >= hits("de") && hits("en") >= hits("fr") && hits("en") >= hits("es"), "en")
        .when(hits("de") >= hits("fr") && hits("de") >= hits("es"), "de")
        .when(hits("fr") >= hits("es"), "fr")
        .otherwise("es")
      docs(s, d).select(col("doc_id"), col("lang"), pred.as("lang_pred"),
        (col("lang") === pred).as("is_match"))
    },

    // Gopher-style corpus quality rules (public heuristics from the
    // Gopher/C4 line of work): alphabetic-word ratio, symbol ratio,
    // long-word ratio, mean token length bounds, stopword presence —
    // combined into a keep/drop gate. All integer-count ratios →
    // deterministic → fully oracle-checked.
    "tx07_quality_rules" -> { (s, d) =>
      val t = toks(col("text"))
      val n = size(t)
      val alphaRatio = size(filter(t, x => x.rlike("^[a-z]+$"))).cast("double") / n
      val longRatio = size(filter(t, x => length(x) >= 10)).cast("double") / n
      val symRatio = length(regexp_replace(col("text"), "[a-z0-9 ]", ""))
        .cast("double") / length(col("text"))
      val meanLen = (length(col("text")) - (n - 1)).cast("double") / n
      val hasStop = hitCount(t, stopwords) > 0
      docs(s, d).select(col("doc_id"),
        alphaRatio.as("alpha_ratio"),
        longRatio.as("long_word_ratio"),
        symRatio.as("symbol_ratio"),
        meanLen.as("mean_token_len"),
        hasStop.as("has_stopword"),
        (alphaRatio >= 0.7 && symRatio <= 0.1 &&
          meanLen >= 2.0 && meanLen <= 12.0 && hasStop).as("keep"))
    },

    // Rolling-hash (winnowing) fingerprints — the structural document
    // fingerprint for containment/near-dup detection; selected hash count
    // and extremes summarize the set deterministically. Oracle-checked:
    // the rightmost-min rule only affects which INDEX is selected, never
    // the value, so the fingerprint SET equals sorted-distinct window
    // minima — and the mod-2^64 Rabin-Karp hash is computable
    // per-position in DuckDB HUGEINT. WinnowSpec pins properties.
    "tx06_winnow_fingerprint" -> { (s, d) =>
      docs(s, d).select(col("doc_id"),
        graft.functions.Winnow.fingerprint(col("text")).as("fp"))
        .select(col("doc_id"), size(col("fp")).as("n_fp"),
          element_at(col("fp"), 1).as("fp_min"),
          element_at(col("fp"), -1).as("fp_max"))
    },

    // Byte-entropy quality signal (custom fused expression). Oracle-checked:
    // output rounds to 4 decimals so cross-engine float noise (~1e-15)
    // cannot flip a digit (closest sf0.01 value sits 1.3e-8 from a
    // rounding boundary); EntropySpec additionally pins unrounded values
    // against a model implementation. The gate thresholds sit >0.6 bits
    // from any observed value, so entropy_ok is deterministic too.
    "tx08_entropy" -> { (s, d) =>
      val h = graft.functions.Entropy.charEntropy(col("text"))
      docs(s, d).select(col("doc_id"),
        round(h, 4).as("entropy_bits"),
        (h >= 3.0 && h <= 6.0).as("entropy_ok"))
    },

    // Lexical diversity (type-token ratio + hapax share — the classic
    // quality-filter features for spotting templated/boilerplate text).
    // Shape: explode → (doc, token) partial-agg count → per-doc agg; two
    // shuffles on bounded keys, NOT the O(len²) per-row nested-filter
    // form, which would blow up on long documents at scale. Counts are
    // integers and each ratio is one double division → bit-exact.
    "tx14_lexical_diversity" -> { (s, d) =>
      docs(s, d)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
        .groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .withColumn("ttr", col("n_types").cast("double") / col("n_tokens"))
        .withColumn("hapax_share", col("n_hapax").cast("double") / col("n_types"))
    },

    // Line-level boilerplate removal (the CCNet/RefinedWeb web-corpus
    // pass): drop every LINE that appears in ≥ 10 distinct documents
    // (headers, footers, cookie banners), keep the rest, and reassemble
    // each document in original line order. The word-soup corpus has no
    // newlines, so "lines" are a constant header + 8-word chunks + a
    // constant footer — the planted-boilerplate construction the dd
    // family uses, fully replayed by the oracle. Scale shape: one
    // posexplode (map-only), the line table persisted DISK_ONLY and
    // consumed three times (frequency agg, filter join, per-doc totals)
    // so documents are chunked ONCE; the frequency join is hint-free —
    // line vocabulary at web scale is exactly the unbounded-cardinality
    // relation the tx09 lesson forbids broadcasting; reassembly is one
    // agg shuffle on doc_id with an in-group sort, never a global sort.
    "tx15_line_dedup" -> { (s, d) =>
      // Tables.spread re-probed on a settled host (round 17, verdict
      // item 7) and REJECTED hard: min 0.683→1.214 s, med 0.775→1.343
      // (8 reps, same-window stash A/B) — the split + slice + line
      // array build is pure allocation, and materializing it through
      // the persist at 32-way concurrency pays the measured ~8×
      // per-task slowdown with no md5-class CPU share to recoup it.
      val lines = docs(s, d)
        .withColumn("w", split(col("text"), " "))
        .select(col("doc_id"), concat(
            array(lit("subscribe to our newsletter")),
            transform(sequence(lit(0), ((size(col("w")) - 1) / 8).cast("int")),
              i => array_join(slice(col("w"), i * lit(8) + 1, lit(8)), " ")),
            array(lit("all rights reserved"))).as("ls"))
        .select(col("doc_id"), posexplode(col("ls")))
        .withColumnsRenamed(Map("pos" -> "line_no", "col" -> "line"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val freq = lines.groupBy(col("line"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
      val kept = lines.join(freq.filter(col("n_docs") < 10), "line")
      val keptAgg = kept.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          md5(array_join(
            transform(array_sort(collect_list(struct(col("line_no"), col("line")))),
              x => x("line")), "\n")).as("clean_md5"))
      lines.groupBy(col("doc_id")).agg(count(lit(1)).as("n_lines"))
        .join(keptAgg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_lines"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
          coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
    },

    // Corpus top-100 tokens: explode → partial-agg count → global top-k.
    "tx05_wordcount" -> { (s, d) =>
      docs(s, d)
        .select(explode(toks(lower(col("text")))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(100)
    },

    // Repetition detection (the Gopher "duplicate n-gram fraction"
    // rule): share of word 2-grams that are repeats within the doc.
    // Narrow per-row expression — integer counts, exact division.
    "tx10_repetition" -> { (s, d) =>
      val t = toks(lower(col("text")))
      docs(s, d)
        .withColumn("t", t)
        .filter(size(col("t")) >= 2)
        .withColumn("g", wordGrams(col("t"), 2))
        .select(col("doc_id"),
          size(col("g")).as("n_2grams"),
          size(array_distinct(col("g"))).as("n_uniq_2grams"),
          ((size(col("g")) - size(array_distinct(col("g")))).cast("double") /
            size(col("g"))).as("dup_share"))
    },

    // Per-source corpus-health rollup: doc counts, token volume, and
    // quality-gate pass share per source (the dashboard a 100 TB
    // ingest pipeline watches to catch a degraded crawl source). One
    // agg shuffle on the low-cardinality source key; all statistics
    // are integer sums (exact in double regardless of partial-agg
    // order) plus single divisions → bit-exact.
    "qa01_source_quality" -> { (s, d) =>
      val t = toks(col("text"))
      val n = size(t)
      val ok = n >= 30 && hitCount(t, stopwords).cast("double") / n <= 0.6
      val nPass = sum(when(col("ok"), 1L).otherwise(0L))
      docs(s, d)
        .withColumn("n_tokens", n)
        .withColumn("ok", ok)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("total_tokens"),
          avg(col("n_tokens").cast("double")).as("avg_tokens"),
          nPass.as("n_pass"),
          (nPass.cast("double") / count(lit(1))).as("pass_share"))
    },

    // Per-source exact-duplication rate: the corpus-health metric
    // between qa01 (quality gates) and qa03 (length profile) — how much
    // of each source is byte-identical repeats. Map-only md5 fingerprint
    // then one agg shuffle on the low-cardinality source key; the
    // distinct count rides Spark's distinct-aggregate Expand rewrite
    // inside that single shuffle (no second corpus pass). Integer counts
    // plus one division → bit-exact.
    "qa02_duplication_rate" -> { (s, d) =>
      val nDup = count(lit(1)) - countDistinct(col("fp"))
      docs(s, d)
        .select(col("source"), md5(col("text")).as("fp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"),
          nDup.as("n_dup"),
          (nDup.cast("double") / count(lit(1))).as("dup_share"))
    },

    // Corpus length histogram: 200-char bins per language with each
    // bin's share of its language — the length-distribution profile a
    // data curator reads before setting truncation budgets. One agg
    // shuffle on (lang, bin); the per-lang totals come from a window
    // over the already-aggregated (≤ dictionary-sized) result, not a
    // second pass over the corpus. Counts and share divisions are
    // integer-derived → engine-exact.
    "qa03_length_histogram" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      docs(s, d)
        .groupBy(col("lang"), floor(col("n_chars") / 200L).as("bin"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("share",
          col("n_docs").cast("double") / sum(col("n_docs")).over(w))
        .select(col("lang"), col("bin"), col("n_docs"), col("share"))
    },

    // Corpus bigram language-model stats: P(w2|w1) = c(w1 w2)/c(w1 ·),
    // top-3 continuations per head word. All integer counts plus one
    // exact double division → bit-identical across engines. Shape: one
    // explode+agg shuffle on (w1, w2); the per-head totals have
    // VOCABULARY cardinality — on a real web corpus that's 10⁸-10⁹
    // distinct heads (typos, numbers, URLs), so no broadcast is forced:
    // AQE broadcasts when the runtime size is actually small and falls
    // back to a sort-merge join keyed on w1 otherwise (plan pinned in
    // TextPlanSpec). The per-head top-k is bounded window state
    // (WindowGroupLimit).
    "tx11_bigram_lm" -> { (s, d) =>
      val t = toks(lower(col("text")))
      // (round 16: a Tables.spread here measured WORSE — 0.9 s → 1.3 s
      // wall, task time 0.6 s → 14 s: the bigram split/agg is
      // allocation-bound and 32-way contention swamps the parallelism)
      val big = docs(s, d)
        .withColumn("t", t).filter(size(col("t")) >= 2)
        // explode_outer skips the Generate's size/notnull re-evaluations
        // of the gram array; the size>=2 filter guarantees no null rows
        .select(explode_outer(wordGrams(col("t"), 2)).as("g"))
        .select(split(col("g"), " ").getItem(0).as("w1"),
          split(col("g"), " ").getItem(1).as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val uni = big.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
      Similarity.topK(big.join(uni, "w1")
          .withColumn("p", col("c12").cast("double") / col("c1")),
          col("w1"), 3, "rank", col("p").desc, col("w2"))
        .select(col("w1"), col("w2"), col("c12"), col("c1"), col("p"),
          col("rank").cast("int").as("rank"))
    },

    // LM-based quality scoring (the perplexity-filter shape): train the
    // corpus bigram LM, then score every document by its mean bigram
    // log2-probability. Two-pass at scale: the LM table aggregates once
    // on (w1, w2) — on a real vocabulary that table AND the per-head
    // unigram totals are both large (vocabulary cardinality), so
    // neither join forces a broadcast: AQE decides, and both joins key
    // on their grouping columns otherwise. The per-doc average is one
    // agg on doc_id. Scores round to 4 decimals (closest sf0.01 value
    // sits 3.3e-9 from a boundary, cross-engine log/sum-order noise is
    // ~1e-14).
    "tx12_lm_score" -> { (s, d) =>
      val pairs = bigramPairs(s, d)
      val big = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val uni = big.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
      val lm = big.join(uni, "w1")
        .select(col("w1"), col("w2"),
          (col("c12").cast("double") / col("c1")).as("p"))
      pairs.join(lm, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(log2(col("p"))), 4).as("lm_score"))
    },

    // Kneser–Ney smoothed bigram LM scoring (Kneser & Ney 1995 — the
    // smoothing CCNet/KenLM-style perplexity quality filters actually
    // ship): tx12's MLE model leaves no mass for unseen continuations;
    // interpolated KN discounts every observed bigram by D=0.75 and
    // redistributes the withheld mass through the CONTINUATION
    // probability — how many distinct contexts a word follows, over
    // the number of bigram types:
    //   p(w2|w1) = (max(c12−D, 0) + D·N1+(w1·)·N1+(·w2)/types) / c1.
    // Same two-pass scale shape as tx12 — one (doc_id, w1, w2) explode
    // persisted DISK_ONLY, vocab-cardinality count tables whose joins
    // AQE decides (never hint-broadcast) — and the continuation counts
    // derive from the SAME bigram table, so KN costs two extra
    // vocab-row aggregates but NO extra corpus scan. Determinism: every
    // p term is an exact integer ratio and D=0.75 is exactly binary;
    // the identical expression tree runs in both engines, and the
    // per-doc average rounds to 4 decimals (tx12's noise-vs-boundary
    // argument).
    "tx21_kn_lm_score" -> { (s, d) =>
      val pairs = bigramPairs(s, d)
      // (Round 17: materializing `big` once for its four consumers was
      // measured WORSE both ways on this host — Lineage.truncate min
      // 0.636→0.884 s (serial construct-time checkpoint), Tables.pinLazy
      // 0.636→1.068 (statically planned 32-partition block reads hit the
      // 32-way tiny-task cliff). The racing recomputes overlap on idle
      // cores and win locally; at scale the pairs table is the memoized
      // persisted input, so each consumer is one cached-table pass.)
      val big = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val uni = big.groupBy(col("w1"))
        .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1w"))
      val cont = big.groupBy(col("w2")).agg(count(lit(1)).as("nc"))
      val types = big.agg(count(lit(1)).as("n_types"))
      val lm = big.join(uni, "w1").join(cont, "w2")
        .crossJoin(broadcast(types))
        .select(col("w1"), col("w2"),
          ((greatest(col("c12").cast("double") - 0.75, lit(0.0)) +
            lit(0.75) * col("n1w") * col("nc") / col("n_types")) /
            col("c1")).as("p"))
      pairs.join(lm, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(log2(col("p"))), 4).as("kn_score"))
    },

    // TF-IDF top-3 terms per document. IDF uses the rational form
    // n_docs/df (not log) so scores are exact integer ratios in double —
    // bit-identical across engines; log-idf only reorders monotonically
    // when df varies, and rank ties break on the word. Shape: tf is one
    // explode+agg shuffle on (doc, word); df has VOCABULARY cardinality
    // so its join is NOT hint-broadcast (AQE decides; sort-merge on
    // `word` at web-corpus vocab). Only the one-row corpus count keeps
    // an explicit broadcast — that side is bounded by construction.
    "tx09_tfidf" -> { (s, d) =>
      val tf = docs(s, d)
        .select(col("doc_id"), explode(toks(lower(col("text")))).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val ndocs = docs(s, d).agg(count(lit(1)).as("n_docs"))
      Similarity.topK(tf.join(dfreq, "word").crossJoin(broadcast(ndocs))
          .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df")),
          col("doc_id"), 3, "rank", col("score").desc, col("word"))
        .select(col("doc_id"), col("word"), col("tf"), col("df"),
          col("score"), col("rank").cast("int").as("rank"))
    },

    // BM25 keyword retrieval (Robertson/Spärck Jones, the Lucene
    // `k1=1.2, b=0.75` variant): a fixed query workload scored against
    // the corpus through the inverted-index shape — tf is the one
    // corpus explode+partial-agg shuffle on (doc, word); df and idf
    // have VOCABULARY cardinality (AQE decides that join, never a
    // forced broadcast); the query list and the one-row corpus stats
    // are the only hint-broadcast sides. Top-10 per query is pruned
    // map-side (the partial WindowGroupLimit) — the exchange carries k
    // rows per task, the shape that survives a 100 TB posting stream.
    // Determinism: idf and the final score round to 4 decimals (ties
    // then break on doc_id, the same order in the window and the
    // oracle's ROW_NUMBER); every other op
    // is IEEE correctly-rounded with identical association both
    // engines, so cross-engine noise (~1e-13 absolute at these
    // magnitudes) is 5 orders below the closest measured boundary
    // distance (1.1e-8 absolute, sf0.1; idf margins are 1e-2+).
    "tx16_bm25_topk" -> { (s, d) =>
      import s.implicits._
      val qterms = Seq(1 -> "spark", 1 -> "join", 2 -> "dup", 2 -> "stream",
        3 -> "window", 3 -> "sort", 3 -> "merge")
      val q = broadcast(qterms.toDF("q_id", "word"))
      // Round 17: ONE corpus tokenize pass feeds everything. Each
      // exploded token is bucketed at partial-agg time as its own word
      // when it is a query term, else NULL (collision-free sentinel:
      // toks never emits a null token, and a null token would join to
      // nothing downstream exactly like the bucket). The exchange then
      // carries ≤ |distinct query words|+1 rows per doc instead of the
      // full per-doc vocabulary, and every statistic reads that ONE
      // exchange: tf for a query word is its bucket count (identical —
      // bucketing never merges two query words); df is that word's row
      // count (identical — non-query rows never joined anyway); dl per
      // doc is sum over all buckets = the doc's token count = the old
      // size(tokens) (a no-token doc loses its dl row, but dl is only
      // reached through the inner join on the query-word rows such a
      // doc cannot have); the corpus token total is the global bucket
      // sum, and n_docs is a pure docs count (no tokenize — parquet
      // row-count metadata), so avgdl is EXACT for every input
      // including empty/null-text docs (they contribute 0 tokens to
      // both forms and are counted by both). QProf before: the plan
      // tokenized the corpus in THREE separate single-task ~150-250 ms
      // stages (two racing copies of the 1.6 MB full-vocab tf exchange
      // AQE failed to dedup, plus the dl branch's 1.1 MB one); after:
      // one tokenize stage, one 1.1 MB exchange. At 100 TB: one corpus
      // pass instead of two, and the shuffle no longer scales with
      // vocabulary size.
      val qwords = qterms.map(_._2).distinct
      // dl = size(t) is computed per DOC in the projection feeding the
      // Generate and carried as a scalar attribute — naming explode's
      // input array in the same select would make ExtractGenerator
      // haul the whole token array through the Generate and evaluate
      // size() per exploded row (measured 5× tokenize cost).
      val agged = docs(s, d)
        .select(col("doc_id"), toks(lower(col("text"))).as("t"))
        .select(col("doc_id"), size(col("t")).as("dl"), col("t"))
        .select(col("doc_id"), col("dl"), explode(col("t")).as("w"))
        .groupBy(col("doc_id"),
          when(col("w").isin(qwords: _*), col("w")).as("word"))
        .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      val stats = broadcast(agged.agg(sum(col("tf")).as("toks"))
        .crossJoin(docs(s, d).agg(count(lit(1)).as("n_docs")))
        .select(col("n_docs"),
          (col("toks").cast("double") / col("n_docs")).as("avgdl")))
      val qtf = agged.filter(col("word").isNotNull)
      val idf = qtf.groupBy(col("word")).agg(count(lit(1)).as("df"))
        .crossJoin(stats)
        .select(col("word"), round(log(
          (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
            + lit(1.0)), 4).as("idf"))
      val contrib = qtf.join(q, "word").join(broadcast(idf), "word")
        .crossJoin(stats)
        .select(col("q_id"), col("doc_id"),
          (col("idf") * (col("tf") * lit(2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) +
              lit(0.75) * col("dl") / col("avgdl"))))).as("c"))
      Similarity.topK(contrib.groupBy(col("q_id"), col("doc_id"))
          .agg(round(sum(col("c")), 4).as("score")),
          col("q_id"), 10, "rank", col("score").desc, col("doc_id"))
        .select(col("q_id"), col("doc_id"), col("score"), col("rank"))
    },

    // BPE merge training (Sennrich et al. 2016 §3.2): learn the first
    // 10 merge rules from the corpus. The corpus is touched ONCE — the
    // word-frequency explode+agg — and every iteration after that runs
    // on the VOCABULARY-sized symbol table (exactly how production BPE
    // trainers scale: the corpus pass is linear, the merge loop is
    // vocab-bounded). Per iteration: pair counts are one partial-agged
    // shuffle of the vocab table; the argmax is a 1-row bounded collect
    // (the Lloyd class — 10 rows × ~bytes total, each feeding the next
    // iteration's merge literals); the merge itself is a codegen'd
    // left-to-right fold (`aggregate`) — the merged symbol can never
    // re-pair with the following symbol in the same pass, which makes
    // the simple fold exactly Sennrich's non-overlapping scan (run
    // "aaaa" + pair (a,a) → [aa, aa]). localCheckpoint per iteration
    // pins the vocab table and truncates the 10-deep lambda lineage
    // (the gr03 rule). Ties break on (l, r) — both engines compare
    // lowercase-ascii strings identically. Everything is integer
    // counts and string concats: hash-exact against a 10-stage
    // unrolled DuckDB replay.
    "tx17_bpe_train" -> { (s, d) =>
      import s.implicits._
      bpeTrain(s, d, 10)._1.toDF("step", "lhs", "rhs", "merged", "cnt")
    },

    // BPE ENCODING — the trained vocabulary applied: the corpus subword
    // histogram after tx17's 10 merges (token -> total occurrences).
    // Reuses the trainer verbatim, so the encode is definitionally
    // consistent with the learned merges; the histogram is one
    // explode+agg of the vocab-sized symbol table. At 100 TB the
    // per-document encode is the same 10 folds mapped over the corpus
    // scan — here the vocab table already carries each word's final
    // segmentation and its corpus frequency, so no second corpus pass
    // is needed.
    "tx18_bpe_encode" -> { (s, d) =>
      bpeTrain(s, d, 10)._2
        .select(explode(col("s")).as("token"), col("freq"))
        .groupBy(col("token")).agg(sum(col("freq")).as("cnt"))
    },

    // Per-document TRAINED-subword token counts — the tokenizer-cost
    // input a packing/budgeting pass (pp05/pp06) actually needs, where
    // tx01's n_tokens_bpe was the pre-tokenizer proxy. The trained
    // vocab table already maps every corpus word to its final
    // segmentation length, so the encode is one corpus explode+agg on
    // (doc, word) joined to the VOCABULARY-sized length map (AQE's
    // choice, like tx09's df join) — no per-document fold chain, no
    // second training pass (memoized trainer).
    "tx19_bpe_doc_tokens" -> { (s, d) =>
      val vocab = bpeTrain(s, d, 10)._2
        .select(col("word"), size(col("s")).as("n_sub"))
      docs(s, d)
        .select(col("doc_id"), explode(toks(lower(col("text")))).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("n"))
        .join(vocab, "word")
        .groupBy(col("doc_id"))
        .agg(sum(col("n") * col("n_sub")).as("n_bpe_tokens"),
          sum(col("n")).as("n_words"))
    },

    // TOKENIZER FERTILITY per source — the metric tokenizer evaluations
    // report (subwords per word; chars per emitted token): how well the
    // trained vocabulary compresses each slice of the corpus, the
    // number that decides whether a tokenizer is retrained before a
    // 100 TB encode (fertility ≫ 1.0 on a domain means its text
    // shatters). Shape: the (source, word) histogram is one corpus
    // explode+agg, joined to the VOCAB-sized segmentation table (AQE
    // broadcasts it), then a per-source fold — no per-document state,
    // no second training pass (memoized trainer shared with
    // tx17/18/19). Integer sums end-to-end; the two ratios are single
    // divisions 4-rounded by both engines.
    "tx20_bpe_fertility" -> { (s, d) =>
      val vocab = bpeTrain(s, d, 10)._2
        .select(col("word"), size(col("s")).as("n_sub"))
      docs(s, d)
        .select(col("source"), explode(toks(lower(col("text")))).as("word"))
        .groupBy(col("source"), col("word")).agg(count(lit(1)).as("n"))
        .join(vocab, "word")
        .groupBy(col("source"))
        .agg(sum(col("n")).as("n_words"),
          sum(col("n") * col("n_sub")).as("n_bpe_tokens"),
          sum(col("n") * length(col("word"))).as("n_chars"),
          round(sum(col("n") * col("n_sub")).cast("double") /
            sum(col("n")), 4).as("fertility"),
          round(sum(col("n") * length(col("word"))).cast("double") /
            sum(col("n") * col("n_sub")), 4).as("chars_per_token"))
    }
  )

  // train once, encode many: tx17 and tx18 share one training pass per
  // (session, corpus, n) — the memo holds the merge list plus the
  // final localCheckpointed vocab-sized symbol table (11 tiny pinned
  // tables per corpus). Same immutable-corpus assumption as every
  // other (session, dir) memo (Tables.dfCache).
  private val bpeCache = new graft.SessionMemo[(String, Int),
    (Seq[(Int, String, String, String, Long)], DataFrame)]

  /** The shared BPE trainer: returns the merge list and the final
    * word-symbol table (freq, s). See tx17's registry comment for the
    * scale/determinism analysis. */
  private def bpeTrain(s: SparkSession, d: String, nMerges: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) =
    bpeCache.get(s, (d, nMerges))(bpeTrainUncached(s, d, nMerges))

  /** The initial word-symbol table: corpus-wide word frequencies with
    * each word exploded into its character symbols. The ONE corpus
    * scan of BPE training; every later iteration is vocab-sized. */
  private def bpeInitialWords(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(explode(toks(lower(col("text")))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        regexp_extract_all(col("word"), lit("."), lit(0)).as("s"))
      .transform(Lineage.truncate)

  /** Adjacent-pair counts over the current word-symbol table, sorted by
    * the merge-selection order (cnt DESC, l, r). */
  private def bpePairCounts(words: DataFrame): DataFrame =
    words
      .select(col("freq"), explode(zip_with(
        slice(col("s"), lit(1), greatest(size(col("s")) - 1, lit(0))),
        slice(col("s"), lit(2), greatest(size(col("s")) - 1, lit(0))),
        (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("l"), col("r"))

  /** Apply a batch of pairwise NON-INTERACTING merges in ONE
    * left-to-right fold over the symbol table. Non-interaction (see
    * [[bpeSelectBatch]]) guarantees a symbol participates in at most
    * one batch pair and no merged spelling re-enters another batch
    * pair, so a single pass with a merge-map lookup is EXACTLY the
    * sequence of per-merge passes. The map key joins (last, next) on a
    * space — symbols come from space-SPLIT tokens, so no symbol can
    * contain one and the key can never alias (bpeSelectBatch still
    * drops to batch size 1 on a space-bearing symbol, defensively). */
  private def bpeApplyMerges(words: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val m = typedlit(merges.map { case (l, r) =>
      (l + " " + r, l + r) }.toMap)
    // per-iteration localCheckpoint MEASURED as the right call:
    // without it the argmax at step i re-analyzes an i-deep nested
    // aggregate-lambda chain and tx17 goes 1.35s -> 2.0s+ at sf0.1
    // (Catalyst lambda analysis, not execution, dominates); with
    // it every iteration plans one flat fold over the pinned
    // vocab-sized table, and the corpus is still scanned once.
    words.select(col("word"), col("freq"),
      aggregate(col("s"), array().cast("array<string>"),
        (acc, c) => {
          // try_element_at: a miss is the common case, and ANSI-mode
          // element_at throws on missing map keys
          val hit = try_element_at(m,
            concat(get(acc, size(acc) - 1), lit(" "), c))
          when(size(acc) > 0 && hit.isNotNull,
            concat(slice(acc, lit(1), size(acc) - 1), array(hit)))
            .otherwise(concat(acc, array(c)))
        }).as("s"))
      .transform(Lineage.truncate)
  }

  /** Select the longest batch of merges, from the (cnt DESC, l, r)
    * sorted candidate slice, that is PROVABLY equivalent to applying
    * them one sequential argmax at a time — the trick that turns a
    * 50k-merge training run from 50k driver round-trips into
    * ~50k/batch rounds. The interaction analysis is the heart of it.
    * Merging p = (l, r) → lr changes the count of another snapshot
    * pair q ONLY in these cases:
    *
    *   - q.r == p.l   ("z l r" → "z lr" destroys an occurrence of
    *                   (z, l));
    *   - q.l == p.r   ("l r z" → "lr z" destroys (r, z));
    *   - a symbol spelled p.l+p.r already exists in the alphabet
    *     (then the merge MINTS more tokens of an existing spelling,
    *     and pairs touching that spelling gain occurrences — the one
    *     case where a count can INCREASE, and also the one case where
    *     the one-pass fold could cascade a fresh merge result into
    *     another batch rule).
    *
    * Crucially, q sharing p's LEFT as its left (q.l == p.l, e.g.
    * (e,r) and (e,n)) or p's right as its right is provably
    * count-neutral — an "e" followed by "n" is not followed by "r",
    * so the (e,r) merge cannot touch it. Natural-language top pairs
    * share lefts constantly; admitting them is what makes batches
    * deep. Four rules then make the batch exact, not approximate:
    *
    *  1. PREFIX, not skip-and-continue: stop at the first candidate
    *     that interacts with an accepted one. (Skipping it and taking
    *     later candidates is wrong: the skipped pair's count may NOT
    *     actually decrease — e.g. (z,l) when no "z l r" exists — so
    *     it can outrank everything after it in the sequential run.)
    *  2. TRIGRAM-VERIFIED admission: the q.r==p.l / q.l==p.r overlaps
    *     above are only POTENTIAL interactions — (z,l) loses exactly
    *     cnt3(z,l,r) occurrences to the (l,r) merge, so if the trigram
    *     "z l r" does not occur AT ALL, (z,l) is certifiably
    *     count-neutral and can join the batch. The walk runs twice:
    *     optimistically, gathering every conditional trigram, then
    *     definitively after `probeNonzero` answers which exist (one
    *     vocab-sized Spark job; absence in the probe result certifies
    *     zero). The same certificates kill fold-chaining ("z l" and
    *     "l r" both rules needs a "z l r" instance — count 0 means
    *     none) and zero out the created pairs those admissions would
    *     otherwise mint ((z,lr) arises cnt3(z,l,r) = 0 times). For a
    *     self-pair (a,a) the trigram count OVERSTATES the loss (the
    *     parity fold may spare an occurrence), but never understates
    *     it — a zero certificate is still exact, a nonzero one is
    *     merely conservative.
    *  3. Reject a candidate whose merged spelling is ALREADY IN THE
    *     ALPHABET (initial symbols + every accepted merge from all
    *     rounds). This kills the count-increase case above AND the
    *     cascade case of a fresh token re-matching another batch rule,
    *     so old-pair counts only ever decrease and one fold pass ==
    *     the sequence of per-merge passes. Within a batch, two pairs
    *     merging to the SAME new spelling (e.g. (a,bc) and (ab,c) →
    *     "abc") are fine: they consume disjoint token pairs and mint
    *     a symbol no batch rule mentions.
    *  4. STRICT-COUNT truncation: drop accepted candidates whose cnt
    *     equals the first non-accepted candidate's cnt (effStop). Any
    *     pair CREATED by a batch merge ("z l r" → pair (z, lr)) has
    *     count ≤ cnt3(z,l,r) ≤ the snapshot count of (z, l) — which
    *     is either an accepted pair whose certificate makes that
    *     trigram count 0, or an unaccepted pair the prefix rule keeps
    *     at-or-after the stop point — so every created pair's count is
    *     0 or ≤ effStop < every kept member's cnt: created pairs can
    *     never outrank the rest of the batch, even on ties (where
    *     lexicographic order would otherwise let a new spelling like
    *     "az" < "m" jump the queue). The same bound applies when the
    *     batch cap or the collected slice cuts the walk short —
    *     effStop is "the first candidate not accepted, for any
    *     reason".
    *
    * Interacting old pairs only lose occurrences (≤ effStop), and
    * certified-neutral and non-overlapping old pairs keep their exact
    * counts and their after-the-prefix rank, so after applying
    * accepted merges 1..i-1 the sequential argmax is exactly member i
    * — with the exact snapshot count the sequential trainer would
    * record. Falls back to the plain argmax (batch of 1 —
    * definitionally sequential, whatever the alphabet) when truncation
    * empties the batch or a symbol contains the space the apply-map
    * keys join on.
    *
    * `probeNonzero` defaults to "every trigram exists" — the
    * conservative answer that is exact with no probe job; callers with
    * corpus access (bpeTrainBatched) pass the real certificate job. */
  private[ops] def bpeSelectBatch(
      cands: Seq[(String, String, Long)], maxBatch: Int,
      sliceCoversAll: Boolean,
      alphabet: String => Boolean,
      probeNonzero: Seq[(String, String, String)] =>
        Set[(String, String, String)] = ts => ts.toSet)
      : Seq[(String, String, Long)] = {
    if (cands.isEmpty) return Nil

    // one prefix walk; `reject` answers whether a conditional trigram
    // is (assumed or certified) nonzero
    def walk(reject: ((String, String, String)) => Boolean,
        gather: ((String, String, String)) => Unit)
        : (Seq[(String, String, Long)], Long) = {
      val byLeft = scala.collection.mutable.HashMap
        .empty[String, List[(String, String)]]
      val byRight = scala.collection.mutable.HashMap
        .empty[String, List[(String, String)]]
      val spells = scala.collection.mutable.HashSet.empty[String]
      val acc = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      var effStop = if (sliceCoversAll) Long.MinValue else cands.last._3
      var i = 0
      var open = true
      while (open && i < cands.length) {
        val c @ (l, r, _) = cands(i)
        var bad = acc.size >= maxBatch ||
          spells(l) || spells(r) ||          // symbol minted this batch
          alphabet(l + r)                    // spelling already exists
        if (!bad) {
          // conditional interactions vs every accepted pair, each
          // certifiable by one trigram count
          val probes =
            byLeft.getOrElse(r, Nil).map(p => (l, r, p._2)) ++
            byRight.getOrElse(l, Nil).map(p => (p._1, l, r))
          probes.foreach(gather)
          bad = probes.exists(reject)
        }
        if (bad) { effStop = c._3; open = false }
        else {
          acc += c
          byLeft(l) = (l, r) :: byLeft.getOrElse(l, Nil)
          byRight(r) = (l, r) :: byRight.getOrElse(r, Nil)
          spells += (l + r)
          i += 1
          // a SELF-pair closes the batch: merging (a,a) mints pairs
          // (aa,aa) and (aa,a) from runs of a, and their counts are
          // bounded by cnt(a,a) — the accepted pair's OWN count, not
          // effStop — so they could outrank any later batch member.
          // As the last member nothing follows in-batch, and the next
          // round sees their real counts. (Distinct-pair creations
          // stay effStop-bounded: the bridging snapshot pair, e.g.
          // (d,l) for "c d l r", always carries a nonzero conditional
          // trigram and so can never have been admitted.)
          if (l == r) {
            if (i < cands.length) effStop = cands(i)._3
            open = false
          }
        }
      }
      (acc.toSeq, effStop)
    }

    val gathered = scala.collection.mutable
      .LinkedHashSet.empty[(String, String, String)]
    walk(_ => false, gathered += _)
    val nz = if (gathered.isEmpty) Set.empty[(String, String, String)]
      else probeNonzero(gathered.toSeq)
    val (acc, effStop) = walk(nz, _ => ())

    val kept = acc.takeWhile(_._3 > effStop)
    if (kept.isEmpty || kept.exists(p => p._1.contains(' ') ||
        p._2.contains(' '))) cands.take(1)
    else kept
  }

  /** Batched trainer — the production path. Each round: one pair-count
    * job + one fold job, emitting up to `batchCap` merges, vs the
    * sequential trainer's two jobs PER MERGE; at a real 32k-vocab this
    * is the difference between 64k driver round-trips and a few
    * hundred. Proven merge-for-merge identical to
    * [[bpeTrainSequential]] (see bpeSelectBatch for why, BpeBatchedSpec
    * for the corpus + adversarial-tie evidence). */
  private[graft] def bpeTrainBatched(s: SparkSession, d: String, nMerges: Int,
      batchCap: Int = 100, onRound: Int => Unit = _ => (),
      onProbe: Int => Unit = _ => ())
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    var words = bpeInitialWords(s, d)
    // the live alphabet (initial symbols + every minted spelling),
    // maintained driver-side so the selector can reject
    // spelling-collision merges — the one case where an old pair's
    // count could INCREASE. Bounded by |charset| + nMerges.
    val alphabet = scala.collection.mutable.HashSet.empty[String]
    words.select(explode(col("s")).as("c")).distinct().collect()
      .foreach(r => alphabet += r.getString(0))
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var go = true
    while (go && out.size < nMerges) {
      onRound(out.size)
      val cap = math.min(batchCap, nMerges - out.size)
      // the slice must reach past the batch to its stop point; 3×cap+1
      // is generous, and an under-full slice proves it covered the
      // whole pair table (sliceCoversAll → no truncation bound needed)
      val sliceN = 3 * cap + 1
      val cands = bpePairCounts(words).limit(sliceN).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      if (cands.isEmpty) go = false
      else {
        // the neutrality-certificate job: which of these trigrams
        // occur at all? (symbols are space-free, so the space-joined
        // key is unambiguous; returning only EXISTING keys lets
        // absence certify a zero count)
        val wordsNow = words
        def probe(ts: Seq[(String, String, String)])
            : Set[(String, String, String)] = {
          onProbe(ts.size)
          val want = ts.map { case (a, b, c) => a + " " + b + " " + c }
          val back = ts.map(t =>
            (t._1 + " " + t._2 + " " + t._3) -> t).toMap
          val n = size(col("s"))
          val len = greatest(n - 2, lit(0))
          wordsNow.select(explode(zip_with(
              zip_with(slice(col("s"), lit(1), len), slice(col("s"), lit(2), len),
                (a, b) => concat(a, lit(" "), b)),
              slice(col("s"), lit(3), len),
              (ab, c) => concat(ab, lit(" "), c))).as("t"))
            .filter(col("t").isin(want.map(x => x: Any): _*))
            .select(col("t")).distinct().collect()
            .map(r => back(r.getString(0))).toSet
        }
        val batch = bpeSelectBatch(cands, cap, cands.length < sliceN,
          alphabet, probe)
        batch.foreach { case (l, r, cnt) =>
          out += ((out.size + 1, l, r, l + r, cnt))
          alphabet += (l + r)
        }
        words = bpeApplyMerges(words, batch.map(p => (p._1, p._2)))
      }
    }
    (out.toSeq, words)
  }

  /** The one-argmax-per-round-trip reference trainer, kept as the
    * equivalence baseline for BpeBatchedSpec. */
  private[graft] def bpeTrainSequential(s: SparkSession, d: String, nMerges: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    var words = bpeInitialWords(s, d)
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var step = 1
    var go = true
    while (go && step <= nMerges) {
      val top = bpePairCounts(words).limit(1).collect()
      if (top.isEmpty) go = false
      else {
        val x = top(0).getString(0)
        val y = top(0).getString(1)
        val cnt = top(0).getLong(2)
        out += ((step, x, y, x + y, cnt))
        words = bpeApplyMerges(words, Seq((x, y)))
        step += 1
      }
    }
    (out.toSeq, words)
  }

  /** Exact IN-MEMORY trainer over the collected word-frequency table —
    * the production default, and the standard industry shape
    * (HuggingFace/SentencePiece train this way): the CORPUS is touched
    * exactly once, distributed (the same word-freq aggregation every
    * path shares); training then runs on the VOCAB-SIZED table with a
    * lazy-deletion heap over pair counts and incremental per-word
    * count deltas — O(total symbols + merges·log P), so a 50k-merge
    * vocab takes seconds with ZERO per-merge driver round-trips.
    * Returns None when the word table exceeds `maxWords` (the bounded-
    * collect guard; callers fall back to the distributed batched
    * trainer, whose iterations never collect the table).
    *
    * Exactness contract (BpeBatchedSpec pins it corpus-for-corpus):
    * identical merges, counts, and final vocab to the sequential
    * trainer — same (cnt DESC, l, r) argmax with strings ordered by
    * their UTF-8 bytes (matching Spark's UTF8String binary sort, which
    * differs from String.compareTo for supplementary characters), and
    * the same left-to-right non-overlapping merge pass per word. */
  private[graft] def bpeTrainLocal(s: SparkSession, d: String, nMerges: Int,
      maxWords: Int = 2000000)
      : Option[(Seq[(Int, String, String, String, Long)], DataFrame)] = {
    val wf = bpeInitialWords(s, d)
    // one extra cheap action on the checkpointed vocab table; the
    // corpus itself was scanned once by bpeInitialWords
    if (wf.count() > maxWords) return None
    val rows = wf.collect()

    // intern symbol spellings
    val symId = scala.collection.mutable.HashMap.empty[String, Int]
    val spell = scala.collection.mutable.ArrayBuffer.empty[String]
    def intern(x: String): Int =
      symId.getOrElseUpdate(x, { spell += x; spell.size - 1 })

    final case class Word(freq: Long,
      var syms: scala.collection.mutable.ArrayBuffer[Int])
    val words = rows.map { r =>
      Word(r.getLong(1),
        scala.collection.mutable.ArrayBuffer.from(
          r.getSeq[String](2).map(intern)))
    }

    def utf8Cmp(a: String, b: String): Int = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }

    val counts = scala.collection.mutable.HashMap.empty[(Int, Int), Long]
    // pair -> word indices that contained it at SOME point (may be
    // stale; merge application re-checks)
    val occ = scala.collection.mutable.HashMap
      .empty[(Int, Int), scala.collection.mutable.ArrayBuffer[Int]]
    def note(p: (Int, Int), w: Int): Unit =
      occ.getOrElseUpdate(p,
        scala.collection.mutable.ArrayBuffer.empty[Int]) += w

    words.zipWithIndex.foreach { case (w, wi) =>
      var i = 0
      while (i + 1 < w.syms.length) {
        val p = (w.syms(i), w.syms(i + 1))
        counts(p) = counts.getOrElse(p, 0L) + w.freq
        note(p, wi)
        i += 1
      }
    }

    // lazy-deletion heap: (cnt DESC, l UTF-8 ASC, r UTF-8 ASC); an
    // entry is live iff its cnt equals the pair's CURRENT count
    val ord = new Ordering[(Long, Int, Int)] {
      override def compare(a: (Long, Int, Int), b: (Long, Int, Int)): Int = {
        if (a._1 != b._1) java.lang.Long.compare(a._1, b._1)
        else {
          val c = utf8Cmp(spell(b._2), spell(a._2)) // reversed: min first
          if (c != 0) c else utf8Cmp(spell(b._3), spell(a._3))
        }
      }
    }
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Int, Int)](ord)
    counts.foreach { case ((l, r), c) => heap.enqueue((c, l, r)) }

    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    while (out.size < nMerges && heap.nonEmpty) {
      val (cnt, a, b) = heap.dequeue()
      if (cnt > 0 && counts.getOrElse((a, b), 0L) == cnt) {
        val m = intern(spell(a) + spell(b))
        out += ((out.size + 1, spell(a), spell(b), spell(a) + spell(b), cnt))
        val touched = scala.collection.mutable.HashSet.empty[(Int, Int)]
        val seen = scala.collection.mutable.HashSet.empty[Int]
        occ.getOrElse((a, b), scala.collection.mutable.ArrayBuffer.empty)
          .foreach { wi =>
          if (seen.add(wi)) {
            val w = words(wi)
            // does the word still contain the adjacency?
            var has = false
            var i = 0
            while (!has && i + 1 < w.syms.length) {
              if (w.syms(i) == a && w.syms(i + 1) == b) has = true
              i += 1
            }
            if (has) {
              // retract the word's old pairs, apply the left-to-right
              // non-overlapping pass, add the new pairs back
              i = 0
              while (i + 1 < w.syms.length) {
                val p = (w.syms(i), w.syms(i + 1))
                counts(p) = counts(p) - w.freq
                touched += p
                i += 1
              }
              val ns = scala.collection.mutable.ArrayBuffer.empty[Int]
              i = 0
              while (i < w.syms.length) {
                if (i + 1 < w.syms.length &&
                    w.syms(i) == a && w.syms(i + 1) == b) {
                  ns += m; i += 2
                } else { ns += w.syms(i); i += 1 }
              }
              w.syms = ns
              i = 0
              while (i + 1 < ns.length) {
                val p = (ns(i), ns(i + 1))
                counts(p) = counts.getOrElse(p, 0L) + w.freq
                touched += p
                note(p, wi)
                i += 1
              }
            }
          }
        }
        touched.foreach { p =>
          val c = counts.getOrElse(p, 0L)
          if (c > 0L) heap.enqueue((c, p._1, p._2)) else counts.remove(p)
        }
      }
    }

    import s.implicits._
    val vocabDf = rows.indices.map { i =>
      (rows(i).getString(0), words(i).freq,
        words(i).syms.map(spell(_)).toSeq)
    }.toDF("word", "freq", "s")
    Some((out.toSeq, vocabDf))
  }

  private def bpeTrainUncached(s: SparkSession, d: String, nMerges: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) =
    bpeTrainLocal(s, d, nMerges)
      .getOrElse(bpeTrainBatched(s, d, nMerges))

  private def sqlHits(listExpr: String, words: Seq[String]): String =
    s"len(list_filter($listExpr, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"

  // tx17: the BPE trainer's DuckDB replay, generated as 10 UNROLLED
  // merge stages (the gr03 unrolled-CTE pattern — DuckDB's recursive
  // CTEs cannot re-derive a per-iteration global argmax). Stage i:
  //   p/m  pair counts over w{i-1} + the (cnt DESC, l, r) argmax;
  //   e/f  symbols with position, pair-match flag pm and next symbol;
  //   g/h  left-to-right non-overlap via gaps-and-islands: a position
  //        merges iff pm AND its offset from the current run start is
  //        even (runs of consecutive pm only occur for l = r);
  //   k/w  drop the absorbed right symbol, emit the concat, reassemble.
  // When a stage's pair table is empty its m{i} is empty and every
  // later stage collapses to empty — matching the Spark loop's break.
  private val bpeStagesSql: String = {
    val stages = (1 to 10).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT s[j] AS l, s[j+1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM w${i - 1}, unnest(range(1, len(s))) AS u(j)
         |  GROUP BY s[j], s[j+1]),
         |m$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
         |e$i AS MATERIALIZED (
         |  SELECT word, freq, CAST(j AS INT) AS j, s[j] AS c
         |  FROM w${i - 1}, unnest(range(1, len(s) + 1)) AS u(j)),
         |f$i AS MATERIALIZED (
         |  SELECT e.word, e.freq, e.j, e.c,
         |    coalesce(e.c = m.l AND
         |      lead(e.c) OVER (PARTITION BY e.word ORDER BY e.j) = m.r,
         |      false) AS pm,
         |    lead(e.c) OVER (PARTITION BY e.word ORDER BY e.j) AS nc
         |  FROM e$i e CROSS JOIN m$i m),
         |g$i AS MATERIALIZED (
         |  SELECT *, CASE WHEN pm AND NOT coalesce(
         |      lag(pm) OVER (PARTITION BY word ORDER BY j), false)
         |    THEN j END AS rs
         |  FROM f$i),
         |h$i AS MATERIALIZED (
         |  SELECT *, pm AND ((j - max(rs) OVER (PARTITION BY word ORDER BY j
         |    ROWS UNBOUNDED PRECEDING)) % 2 = 0) AS mrg
         |  FROM g$i),
         |k$i AS MATERIALIZED (
         |  SELECT *, NOT coalesce(
         |      lag(mrg) OVER (PARTITION BY word ORDER BY j), false) AS keep,
         |    CASE WHEN mrg THEN c || nc ELSE c END AS sym
         |  FROM h$i),
         |w$i AS MATERIALIZED (
         |  SELECT word, freq, list(sym ORDER BY j) FILTER (WHERE keep) AS s
         |  FROM k$i GROUP BY word, freq
         |  UNION ALL
         |  SELECT word, freq, s FROM w${i - 1}
         |  WHERE NOT EXISTS (SELECT 1 FROM m$i))""".stripMargin
    }.mkString(",\n")
    // the w-fallback keeps the word table alive when a stage's pair
    // set is exhausted (m empty), matching the Spark loop's break —
    // without it tx18's histogram would read an empty w10 on corpora
    // that converge before 10 merges
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT word, freq,
       |    list_transform(range(1, len(word) + 1), i -> word[i]) AS s
       |  FROM (SELECT word, count(*) AS freq FROM (
       |          SELECT unnest(string_split(lower(text), ' ')) AS word
       |          FROM documents) t
       |        GROUP BY word) wf),
       |$stages""".stripMargin
  }

  private val bpeTrainFinal: String = (1 to 10).map(i =>
    s"SELECT CAST($i AS INT) AS step, l AS lhs, r AS rhs, l || r AS merged, cnt FROM m$i")
    .mkString("\nUNION ALL ")

  // tx16: every float literal CAST to DOUBLE — DuckDB otherwise runs
  // them as exact DECIMALs (bigint*DECIMAL '2.2' = exact 6.6 → double
  // 6.6), while Spark multiplies IEEE doubles (3*2.2 =
  // 6.6000000000000005); the casts force both engines onto the same
  // correctly-rounded double sequence.
  private val bm25Sql: String =
    """WITH q(q_id, word) AS (VALUES (1,'spark'),(1,'join'),(2,'dup'),
      |  (2,'stream'),(3,'window'),(3,'sort'),(3,'merge')),
      |base AS (SELECT doc_id, string_split(lower(text), ' ') AS t
      |         FROM documents),
      |tf AS (SELECT doc_id, word, count(*) AS tf FROM (
      |         SELECT doc_id, unnest(t) AS word FROM base) z
      |       GROUP BY doc_id, word),
      |dl AS (SELECT doc_id, len(t) AS dl FROM base),
      |stats AS (SELECT count(*) AS n_docs,
      |            CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |idf AS (
      |  SELECT word, round(ln(
      |      (n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))
      |        + CAST(1.0 AS DOUBLE)), 4) AS idf
      |  FROM (SELECT word, count(*) AS df FROM tf GROUP BY word) d
      |  CROSS JOIN stats),
      |contrib AS (
      |  SELECT q.q_id, tf.doc_id,
      |    idf.idf * (tf.tf * CAST(2.2 AS DOUBLE) /
      |      (tf.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
      |        CAST(0.75 AS DOUBLE) * dl.dl / stats.avgdl))) AS c
      |  FROM q JOIN tf USING (word) JOIN idf USING (word)
      |       JOIN dl USING (doc_id) CROSS JOIN stats),
      |scored AS (
      |  SELECT q_id, doc_id, round(sum(c), 4) AS score
      |  FROM contrib GROUP BY q_id, doc_id)
      |SELECT q_id, doc_id, score, CAST(rn AS INT) AS rank FROM (
      |  SELECT q_id, doc_id, score,
      |    ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY score DESC, doc_id) AS rn
      |  FROM scored) z
      |WHERE rn <= 10""".stripMargin

  def oracle: Map[String, String] = Map(
    "tx01_token_stats" ->
      """SELECT doc_id, n_chars,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_uniq_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INT) AS n_tokens_bpe
        |FROM documents""".stripMargin,

    "tx02_quality" ->
      s"""SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
         |  CAST(stop_hits AS INT) AS stop_hits,
         |  CAST(stop_hits AS DOUBLE) / n_tokens AS stop_ratio,
         |  CAST(length(text) - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_token_len,
         |  (n_tokens >= 30 AND CAST(stop_hits AS DOUBLE) / n_tokens <= 0.6) AS quality_ok
         |FROM (
         |  SELECT doc_id, text, len(string_split(text, ' ')) AS n_tokens,
         |    ${sqlHits("string_split(text, ' ')", stopwords)} AS stop_hits
         |  FROM documents) t""".stripMargin,

    "tx03_fingerprint" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin,

    "tx07_quality_rules" ->
      s"""SELECT doc_id,
         |  CAST(len(list_filter(t, x -> regexp_matches(x, '^[a-z]+$$'))) AS DOUBLE) / len(t) AS alpha_ratio,
         |  CAST(len(list_filter(t, x -> length(x) >= 10)) AS DOUBLE) / len(t) AS long_word_ratio,
         |  CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) AS symbol_ratio,
         |  CAST(length(text) - (len(t) - 1) AS DOUBLE) / len(t) AS mean_token_len,
         |  ${sqlHits("t", stopwords)} > 0 AS has_stopword,
         |  (CAST(len(list_filter(t, x -> regexp_matches(x, '^[a-z]+$$'))) AS DOUBLE) / len(t) >= 0.7
         |   AND CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) <= 0.1
         |   AND CAST(length(text) - (len(t) - 1) AS DOUBLE) / len(t) >= 2.0
         |   AND CAST(length(text) - (len(t) - 1) AS DOUBLE) / len(t) <= 12.0
         |   AND ${sqlHits("t", stopwords)} > 0) AS keep
         |FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents) z""".stripMargin,

    "tx13_pii_scrub" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    text ||
        |    CASE WHEN doc_id % 2 = 0 THEN ' contact user' ||
        |      CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' call +1-555-' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' host 10.' ||
        |      CAST(doc_id % 256 AS VARCHAR) || '.0.1' ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[a-z0-9]+@[a-z0-9.]+\.[a-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\+1-555-[0-9]{4}')) AS INT) AS n_phones,
        |  CAST(len(regexp_extract_all(t, '10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS INT) AS n_ips,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[a-z0-9]+@[a-z0-9.]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\+1-555-[0-9]{4}', '<PHONE>', 'g'),
        |    '10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g')) AS scrub_md5
        |FROM t""".stripMargin,

    "tx04_langid" ->
      s"""SELECT doc_id, lang, lang_pred, (lang = lang_pred) AS is_match FROM (
         |  SELECT doc_id, lang,
         |    CASE
         |      WHEN en >= de AND en >= fr AND en >= es THEN 'en'
         |      WHEN de >= fr AND de >= es THEN 'de'
         |      WHEN fr >= es THEN 'fr'
         |      ELSE 'es' END AS lang_pred
         |  FROM (
         |    SELECT doc_id, lang,
         |      ${langProfiles.map { case (l, ws) =>
                  s"${sqlHits("string_split(lower(text), ' ')", ws)} AS $l" }
                 .mkString(",\n      ")}
         |    FROM documents) h) p""".stripMargin,

    // Winnowing (k=8, w=4) replayed in SQL: per-position polynomial
    // Rabin-Karp hashes in HUGEINT mod 2^64 (sign-folded to BIGINT to
    // match Java's wrapping longs), window minima, sorted-distinct.
    // Signed BIGINT comparison == Java signed long comparison, so the
    // minima agree bit-for-bit. ascii(char) == byte value because the
    // corpus is pure ASCII (checked at every SF).
    "tx06_winnow_fingerprint" ->
      """WITH ch AS (
        |  SELECT doc_id,
        |    [ascii(text[i]) FOR i IN range(1, length(text) + 1)] AS b
        |  FROM documents
        |), hs AS (
        |  SELECT doc_id,
        |    CASE WHEN len(b) >= 8 THEN
        |      [ CAST(CASE WHEN m >= 9223372036854775808
        |               THEN m - 18446744073709551616 ELSE m END AS BIGINT)
        |        FOR m IN
        |        [ (CAST(b[i] AS HUGEINT) * 74051159531521793 +
        |           CAST(b[i+1] AS HUGEINT) * 288136807515649 +
        |           CAST(b[i+2] AS HUGEINT) * 1121154893057 +
        |           CAST(b[i+3] AS HUGEINT) * 4362470401 +
        |           CAST(b[i+4] AS HUGEINT) * 16974593 +
        |           CAST(b[i+5] AS HUGEINT) * 66049 +
        |           CAST(b[i+6] AS HUGEINT) * 257 +
        |           CAST(b[i+7] AS HUGEINT)) % 18446744073709551616::HUGEINT
        |          FOR i IN range(1, len(b) - 6) ] ]
        |    ELSE CAST([] AS BIGINT[]) END AS h
        |  FROM ch
        |), fp AS (
        |  SELECT doc_id,
        |    CASE WHEN len(h) = 0 THEN CAST([] AS BIGINT[])
        |         WHEN len(h) >= 4 THEN list_sort(list_distinct(
        |           [ list_min(h[s:s+3]) FOR s IN range(1, len(h) - 2) ]))
        |         ELSE [h[1]] END AS f
        |  FROM hs
        |)
        |SELECT doc_id, CAST(len(f) AS INT) AS n_fp,
        |  f[1] AS fp_min, f[-1] AS fp_max
        |FROM fp""".stripMargin,

    // DuckDB's entropy() is log2 Shannon entropy of the value distribution;
    // splitting into single characters equals the Spark expression's
    // byte-distribution entropy because the corpus is pure ASCII (verified
    // octet_length(encode(text)) == length(text) for every row at every SF).
    "tx08_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
        |), e AS (
        |  SELECT doc_id, entropy(c) AS h FROM ch GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  round(coalesce(e.h, 0.0), 4) AS entropy_bits,
        |  (coalesce(e.h, 0.0) >= 3.0 AND coalesce(e.h, 0.0) <= 6.0) AS entropy_ok
        |FROM documents d LEFT JOIN e ON d.doc_id = e.doc_id""".stripMargin,

    "tx05_wordcount" ->
      """SELECT word, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents) t
        |GROUP BY word ORDER BY n DESC, word LIMIT 100""".stripMargin,

    "tx14_lexical_diversity" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents
        |), cnt AS (
        |  SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w
        |), agg AS (
        |  SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_types,
        |    SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n_hapax
        |  FROM cnt GROUP BY doc_id
        |)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_types AS BIGINT) AS n_types,
        |  CAST(n_hapax AS BIGINT) AS n_hapax,
        |  CAST(n_types AS DOUBLE) / n_tokens AS ttr,
        |  CAST(n_hapax AS DOUBLE) / n_types AS hapax_share
        |FROM agg""".stripMargin,

    // tx15 replays the whole planted-line construction: header line_no 0,
    // 8-word chunks at 1..c, footer at c+1 — then the ≥10-distinct-docs
    // drop and the in-order reassembly hash. chr(10) = Spark's "\n".
    "tx15_line_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), ci AS (
        |  SELECT doc_id, w, unnest(range(0, (len(w) - 1) // 8 + 1)) AS i FROM w
        |), lines AS (
        |  SELECT doc_id, 0 AS line_no, 'subscribe to our newsletter' AS line FROM w
        |  UNION ALL
        |  SELECT doc_id, i + 1 AS line_no,
        |    array_to_string(w[i * 8 + 1 : i * 8 + 8], ' ') AS line FROM ci
        |  UNION ALL
        |  SELECT doc_id, (len(w) - 1) // 8 + 2 AS line_no,
        |    'all rights reserved' AS line FROM w
        |), freq AS (
        |  SELECT line, count(DISTINCT doc_id) AS n_docs FROM lines GROUP BY line
        |), kept AS (
        |  SELECT l.doc_id, l.line_no, l.line
        |  FROM lines l JOIN freq f USING (line) WHERE f.n_docs < 10
        |), ka AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    md5(string_agg(line, chr(10) ORDER BY line_no)) AS clean_md5
        |  FROM kept GROUP BY doc_id
        |), totals AS (
        |  SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id
        |)
        |SELECT t.doc_id, CAST(t.n_lines AS BIGINT) AS n_lines,
        |  CAST(coalesce(ka.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(t.n_lines - coalesce(ka.n_kept, 0) AS BIGINT) AS n_dropped,
        |  coalesce(ka.clean_md5, md5('')) AS clean_md5
        |FROM totals t LEFT JOIN ka USING (doc_id)""".stripMargin,

    "tx10_repetition" ->
      """SELECT doc_id,
        |  CAST(len(g) AS INT) AS n_2grams,
        |  CAST(len(list_distinct(g)) AS INT) AS n_uniq_2grams,
        |  CAST(len(g) - len(list_distinct(g)) AS DOUBLE) / len(g) AS dup_share
        |FROM (
        |  SELECT doc_id,
        |    [t[i] || ' ' || t[i + 1] FOR i IN range(1, len(t))] AS g
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
        |        FROM documents) z
        |  WHERE len(t) >= 2) y""".stripMargin,

    "qa02_duplication_rate" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT md5(text)) AS n_unique,
        |  COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dup,
        |  CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*)
        |    AS dup_share
        |FROM documents GROUP BY source""".stripMargin,

    "qa03_length_histogram" ->
      """WITH b AS (
        |  SELECT lang, CAST(floor(n_chars / 200) AS BIGINT) AS bin,
        |    COUNT(*) AS n_docs
        |  FROM documents GROUP BY 1, 2)
        |SELECT lang, bin, n_docs,
        |  CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (PARTITION BY lang) AS share
        |FROM b""".stripMargin,

    "qa01_source_quality" ->
      s"""WITH q AS (
         |  SELECT source, len(string_split(text, ' ')) AS n_tokens,
         |    (len(string_split(text, ' ')) >= 30 AND
         |     CAST(${sqlHits("string_split(text, ' ')", stopwords)} AS DOUBLE)
         |       / len(string_split(text, ' ')) <= 0.6) AS ok
         |  FROM documents
         |)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  avg(CAST(n_tokens AS DOUBLE)) AS avg_tokens,
         |  CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |  CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS pass_share
         |FROM q GROUP BY source""".stripMargin,

    "tx11_bigram_lm" ->
      """WITH pairs AS (
        |  SELECT t[i] AS w1, t[i + 1] AS w2
        |  FROM (SELECT string_split(lower(text), ' ') AS t FROM documents) z,
        |       unnest(range(1, len(t))) AS u(i)
        |  WHERE len(t) >= 2
        |), big AS (
        |  SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2
        |), uni AS (
        |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM big GROUP BY w1
        |)
        |SELECT w1, w2, c12, c1, p, CAST(rank AS INT) AS rank FROM (
        |  SELECT big.w1, big.w2, big.c12, uni.c1,
        |    CAST(big.c12 AS DOUBLE) / uni.c1 AS p,
        |    ROW_NUMBER() OVER (PARTITION BY big.w1
        |      ORDER BY CAST(big.c12 AS DOUBLE) / uni.c1 DESC, big.w2) AS rank
        |  FROM big JOIN uni USING (w1)) z
        |WHERE rank <= 3""".stripMargin,

    "tx12_lm_score" ->
      """WITH pairs AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
        |        FROM documents) z,
        |       unnest(range(1, len(t))) AS u(i)
        |  WHERE len(t) >= 2
        |), big AS (
        |  SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2
        |), uni AS (
        |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM big GROUP BY w1
        |), lm AS (
        |  SELECT w1, w2, CAST(c12 AS DOUBLE) / c1 AS p
        |  FROM big JOIN uni USING (w1)
        |)
        |SELECT pairs.doc_id, count(*) AS n_bigrams,
        |  round(avg(log2(lm.p)), 4) AS lm_score
        |FROM pairs JOIN lm USING (w1, w2)
        |GROUP BY pairs.doc_id""".stripMargin,

    // tx12's replay plus the KN terms: discount, per-head continuation
    // fan-out n1w, per-tail continuation count nc, bigram-type total —
    // all exact integer counts; the p expression tree matches the
    // Column form operator-for-operator.
    "tx21_kn_lm_score" ->
      """WITH pairs AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
        |        FROM documents) z,
        |       unnest(range(1, len(t))) AS u(i)
        |  WHERE len(t) >= 2
        |), big AS (
        |  SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2
        |), uni AS (
        |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS n1w
        |  FROM big GROUP BY w1
        |), cont AS (
        |  SELECT w2, count(*) AS nc FROM big GROUP BY w2
        |), types AS (SELECT count(*) AS n_types FROM big),
        |lm AS (
        |  SELECT w1, w2,
        |    (greatest(CAST(c12 AS DOUBLE) - 0.75, 0.0) +
        |     0.75 * n1w * nc / n_types) / c1 AS p
        |  FROM big JOIN uni USING (w1) JOIN cont USING (w2) CROSS JOIN types
        |)
        |SELECT pairs.doc_id, count(*) AS n_bigrams,
        |  round(avg(log2(lm.p)), 4) AS kn_score
        |FROM pairs JOIN lm USING (w1, w2)
        |GROUP BY pairs.doc_id""".stripMargin,

    "tx09_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, word, COUNT(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        |    FROM documents) t
        |  GROUP BY doc_id, word
        |), dfreq AS (
        |  SELECT word, COUNT(*) AS df FROM tf GROUP BY word
        |), n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT doc_id, word, tf, df, score, CAST(rank AS INT) AS rank FROM (
        |  SELECT tf.doc_id, tf.word, tf.tf, dfreq.df,
        |    CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df AS score,
        |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |      ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df DESC, tf.word) AS rank
        |  FROM tf JOIN dfreq USING (word) CROSS JOIN n) z
        |WHERE rank <= 3""".stripMargin,

    "tx16_bm25_topk" -> bm25Sql,

    "tx17_bpe_train" -> s"$bpeStagesSql\n$bpeTrainFinal",

    "tx18_bpe_encode" ->
      s"""$bpeStagesSql
         |SELECT u.sym AS token, CAST(sum(freq) AS BIGINT) AS cnt
         |FROM w10, unnest(s) AS u(sym) GROUP BY u.sym""".stripMargin,

    "tx19_bpe_doc_tokens" ->
      s"""$bpeStagesSql,
         |dw AS (
         |  SELECT doc_id, word, count(*) AS n FROM (
         |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
         |    FROM documents) t
         |  GROUP BY doc_id, word)
         |SELECT dw.doc_id,
         |  CAST(sum(dw.n * len(w10.s)) AS BIGINT) AS n_bpe_tokens,
         |  CAST(sum(dw.n) AS BIGINT) AS n_words
         |FROM dw JOIN w10 USING (word)
         |GROUP BY dw.doc_id""".stripMargin,

    "tx20_bpe_fertility" ->
      s"""$bpeStagesSql,
         |sw AS (
         |  SELECT source, word, count(*) AS n FROM (
         |    SELECT source, unnest(string_split(lower(text), ' ')) AS word
         |    FROM documents) t
         |  GROUP BY source, word)
         |SELECT sw.source,
         |  CAST(sum(sw.n) AS BIGINT) AS n_words,
         |  CAST(sum(sw.n * len(w10.s)) AS BIGINT) AS n_bpe_tokens,
         |  CAST(sum(sw.n * length(sw.word)) AS BIGINT) AS n_chars,
         |  round(CAST(sum(sw.n * len(w10.s)) AS DOUBLE) / sum(sw.n), 4)
         |    AS fertility,
         |  round(CAST(sum(sw.n * length(sw.word)) AS DOUBLE)
         |    / sum(sw.n * len(w10.s)), 4) AS chars_per_token
         |FROM sw JOIN w10 USING (word)
         |GROUP BY sw.source""".stripMargin
  )
}
