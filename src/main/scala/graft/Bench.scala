package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{...}}.
  *
  * A warmup pass (every query at sf0.001) absorbs JVM/codegen/session
  * initialization so per-query numbers measure the queries, not the
  * first-touch cost; timed passes then run rep by rep, each rep in a
  * deterministically shuffled query order (seed = rep index) so
  * time-correlated host contention cannot map onto one contiguous
  * query family. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession()

    // Full materialization: the noop sink evaluates every output column
    // of every row (unlike count(), under which Catalyst prunes
    // deterministic projections — a count() bench of a narrow
    // projection query times the scan, not the expressions).
    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // Warmup: run EVERY query once at the smallest SF so whole-stage
    // codegen (Janino) compiles before timing — otherwise the first
    // query in sort order absorbs ~2-3s of compilation that belongs to
    // no query (measured: the alphabetically-first query consistently
    // reported 3-4x its warm time). Compilation cost is constant per
    // plan, not data-dependent — at the target scale it is noise, and
    // timing it against sf0.1 data misattributes it.
    val warmupDir = "/root/testdata/sf0.001"
    // local-iteration filter (comma-separated names); the graded run
    // never sets it, so the full suite always runs in the per-round artifact
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    // a query that fails its warmup is counted in both JSON lines
    // (`warmup_errors`), not only on stderr: its first timed rep then
    // also pays the compilation the warmup exists to absorb
    val warmupErrors = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .count { case (name, fn) =>
        try { materialize(fn(spark, warmupDir)); false }
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name warmup failed: ${e.getMessage}")
          true
        }
      }

    // Multiple reps per query: single-run numbers proved unusable for
    // regression judgment (controlled r2-vs-r3 experiment showed 4-14x
    // run-to-run noise on byte-identical code). Reported per-query
    // number = warm lower-median (see warmMedian below); the min is
    // reported too as the "best achievable" floor. REPS is overridable
    // for quick local iteration (SPARK_GRAFT_BENCH_REPS=1).
    // Default 4, not 3: with reps=3 the warm pool is two elements and
    // the "lower median" is deterministically the warm MIN — a
    // min-statistic labeled a median, blind to a regression that hits
    // one of the two warm reps. Three warm samples make it a true
    // median: one stalled rep no longer decides the number in either
    // direction.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "4").toInt
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    // a failed run returns NaN and is EXCLUDED from the median/min/total:
    // a fast-crashing query must never contribute a flattering
    // sub-second time while only the errors array tells the truth
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { materialize(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
      catch {
        case e: Throwable =>
          // a silently-absorbed failure would make the total look good
          // while a query is broken — surface it in both channels
          if (!failed.contains(name)) {
            failed += name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          }
          Double.NaN
      }
    }
    // WARM LOWER-median per query (reps 2..n): the per-query numbers
    // must decompose into the headline `value`, and including the cold
    // rep in them kept the round-13 cold-contamination failure mode
    // alive at the per-query level even after the headline moved to
    // warm-only. Lower median on even pools: with the default reps=3
    // the warm pool is two elements, and the upper one would hand a
    // one-off GC/IO stall 100% of the number. Cold stays fully visible
    // in queries_cold / queries_runs / cold_s.
    def warmMedian(raw: Seq[Double]): Option[Double] = {
      val pool = if (raw.length > 1) raw.drop(1) else raw
      val ts = pool.filterNot(_.isNaN).sorted
      ts.lift((ts.length - 1) / 2)
    }
    // Per-REP passes in a deterministically SHUFFLED query order
    // (Fisher-Yates, seed = rep index), not reps-per-query in sorted
    // order (rounds <= 15): queries ran in a fixed order every round,
    // so time-correlated host contention mapped onto CONTIGUOUS
    // alphabetical families — the round-15 driver window inflated the
    // ev family ~11x in EVERY rep while the median query sat at 1.2x,
    // defeating even the per-query min. Shuffling each rep
    // decorrelates a sustained stall from any one family; the seed is
    // the rep index, so the order is reproducible from the artifact
    // alone (rep_order field below). Rep 1 is still every query's
    // first run at sfDir, so cold/warm semantics are unchanged.
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    val timesByName = scala.collection.mutable.Map[String,
      scala.collection.mutable.ArrayBuffer[Double]]()
    named.foreach { case (n, _) =>
      timesByName(n) = scala.collection.mutable.ArrayBuffer[Double]() }
    (1 to reps).foreach { rep =>
      new scala.util.Random(rep.toLong).shuffle(named).foreach {
        case (name, fn) => timesByName(name) += timeOnce(name, fn)
      }
    }
    val results = named.map { case (name, _) =>
      // raw times kept in RUN ORDER (rep 1..n): a noise-vs-regression
      // judgment needs the spread, and run order additionally shows
      // first-rep warm-in drift; failed runs appear as null
      val raw = timesByName(name).toSeq
      val times = raw.filterNot(_.isNaN).sorted
      // a query with zero successful runs reports null, not a number
      (name, warmMedian(raw), times.headOption, raw)
    }
    def num(v: Option[Double]): String = v.map(_.toString).getOrElse("null")
    val qs = results.map { case (k, med, _, _) => "\"" + k + "\":" + num(med) }
      .mkString("{", ",", "}")
    val mins = results.map { case (k, _, mn, _) => "\"" + k + "\":" + num(mn) }
      .mkString("{", ",", "}")
    val runs = results.map { case (k, _, _, raw) =>
      "\"" + k + "\":" + raw.map(t => num(Some(t).filterNot(_.isNaN)))
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // rep-1 split out explicitly: session memos (bpeTrain, pcaSolve,
    // PQ codes, blooms) are keyed by (session, sfDir) and the warmup
    // runs at sf0.001, so rep-1 at sfDir is the genuine build-and-run
    // cost while min reflects the amortized warm path — reporting both
    // keeps memoized queries from reading as near-free in
    // round-over-round deltas
    val colds = results.map { case (k, _, _, raw) =>
      "\"" + k + "\":" + num(raw.headOption.filterNot(_.isNaN))
    }.mkString("{", ",", "}")
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Headline `value` = sum of WARM medians (reps 2..n), with the cold
    // (rep-1) sum published alongside as `cold_s`. Round 13's driver host
    // turned one contended cold rep per query into a 2.7x headline
    // "regression" on byte-identical code; excluding rep 1 from the
    // headline makes the artifact degrade gracefully on a noisy host —
    // the cold economics stay visible in cold_s / queries_cold instead of
    // silently inflating the number every cross-round delta is read from.
    val total = results.flatMap(_._2).sum
    val coldTotal = results.flatMap(_._4.headOption.filterNot(_.isNaN)).sum
    // Sum of per-query MINIMA: the contention-proof comparator. A host
    // whose EVERY rep is contended (the driver window, rounds 12-14)
    // poisons both warm reps and the warm median with them; the min sum
    // survives anything short of total contamination, and the gap
    // between value and min_s is itself the contention diagnostic
    // (r14: driver 242.4 vs min-sum 195.5 vs settled 66.9).
    val minTotal = results.flatMap(_._3).sum
    // honesty flag for REPS=1 iterations: with no warm rep, warmMedian
    // falls back to the cold rep and `value == cold_s` — a reader
    // comparing such an artifact against a reps>=2 one must not read
    // the systematic cold-vs-warm delta as a regression
    val coldOnly = if (reps < 2) "\"cold_only\":true," else ""
    // Queries whose first-rep cost includes a nontrivial index or
    // session-memo build (IndexStore artifacts: LSH pairs, cluster map,
    // span tables, blooms, PQ/IVF, z-layout, trade edges; session
    // memos: scatter/PCA solves, BPE trainer, BM25 stats). A
    // cold-environment run (fresh process, empty index root — the
    // driver's) pays the build inside every rep while a warm one
    // amortizes it, so cross-run deltas on these names compare
    // economics, not code — label them so readers can tell.
    val memoBacked = Seq(
      "bk01_bucketed_cojoin", "bk02_zorder_prune",
      "dd03_minhash_lsh", "dd03b_lsh_strong_pairs", "dd05_ngram_jaccard",
      "dd08_cc_clusters", "dd10_semantic_dedup",
      "dd11_incremental_dedup_bloom", "dd12_exact_substring",
      "dd13_substring_scrub", "dd13b_substring_scrub_keep1",
      "dd14_containment_audit",
      "emb03_kmeans_int", "emb05_pca_project", "emb06_pca_variance",
      "emb07_pca_topk", "emb09_whiten", "emb10_kcenter",
      "gr01_pagerank", "gr02_triangles", "gr03_bfs_hops", "gr04_label_prop",
      "gr05_ppr", "gr06_hits", "qa09_coreset_coverage",
      "pp02_near_dedup_corpus", "pp12_dedup_apply", "pp13_split_leakage",
      "pp15_dsir_sample", "qa08_dsir_shift",
      "tx12_lm_score", "tx21_kn_lm_score",
      "qa04_cluster_sizes", "qa06_dedup_impact", "qa07_dedup_flow",
      // whichever of qa10/ss03* the rep-1 shuffle runs first pays the
      // IVF index + quantized-corpus build at the bench SF
      "qa10_ann_recall",
      "ss02_lsh_topk", "ss03_ivf_topk", "ss03b_ivf_int8_topk",
      "ss03c_ivfadc_rerank", "ss09_pq_topk", "ss10_pq_rerank",
      "ss11_ivf_append", "qa11_ivf_append_recall", "qa12_ivf_drift_status",
      "tx16_bm25_topk", "tx17_bpe_train", "tx18_bpe_encode",
      "tx19_bpe_doc_tokens", "tx20_bpe_fertility")
    val memoJson = memoBacked.map("\"" + _ + "\"").mkString("[", ",", "]")
    // metric_version: bumped whenever the MEANING of value/queries
    // changes (v1 = per-query mean incl. cold rep, rounds <=13; v2 =
    // warm lower-median + cold_s/min_s split, round 14+). Cross-round
    // comparisons must refuse mismatched versions mechanically — the
    // round-14 "graph -40%" headline compared a v1 mean against a v2
    // median and overstated a real -17.6% win.
    val metricVersion = 2
    // per-rep execution order is reconstructible from this field alone:
    // scala.util.Random(rep).shuffle over the sorted registered names
    val repOrder = "\"fisher-yates(seed=rep 1..%d over sorted names)\""
      .format(reps)
    // Measurement-policy marker (round 17, r16 verdict item 5): the
    // round-16 rep-shuffle + codegen-cache sizing changed what the
    // numbers MEAN (per-query reps no longer back-to-back; Janino
    // recompilation excluded from timed reps) without changing the
    // value's definition (warm lower-median sum, still metric_version
    // 2). Cross-round tooling must refuse to compare artifacts whose
    // policy strings differ — that is this field's whole job. Bump the
    // string whenever measurement policy (not query code) changes.
    val policy =
      "\"rep_order=shuffled;codegen_cache=5000\""
    // cpus stamped into BOTH lines: the working-tree BENCH_FULL.json is
    // clobbered by whichever run happened LAST, and in round 16 the
    // driver's 8-core scaling run overwrote the 32-core artifact with
    // nothing in the file saying so.
    val line = s"""{"metric":"total","value":$total,"unit":"sec","metric_version":$metricVersion,"policy":$policy,"cpus":$cpus,"cold_s":$coldTotal,"min_s":$minTotal,$coldOnly"reps":$reps,"warmup_errors":$warmupErrors,"rep_order":$repOrder,"queries":$qs,"queries_min":$mins,"queries_cold":$colds,"queries_runs":$runs,"memo_backed":$memoJson,"errors":$errs,"sf":"$sfDir"}"""
    println(line)
    // the driver's per-round artifact keeps only a ~2KB tail of stdout,
    // which has repeatedly made cross-round per-query comparison
    // impossible — persist the FULL line in the repo as well. Only for
    // FULL runs: a SPARK_GRAFT_BENCH_ONLY iteration must never clobber
    // the durable full-suite artifact with a partial line.
    // A failed write is reported on stderr; stdout remains the contract.
    if (only.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_FULL.json"), line + "\n")
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] BENCH_FULL.json not written: $e")
      }
    // The driver's artifact keeps only the LAST ~2000 bytes of stdout and
    // tries to parse a JSON line out of that window. The full line above
    // is ~27KB, so its start is always outside the window and every
    // round's BENCH_rN.json came back "parsed": null. Emit one final
    // COMPACT line — same contract shape (metric/value/unit/queries/sf),
    // but "queries" holds only the 5 slowest medians — sized well under
    // the window so the tail always contains a complete parseable line.
    // 25 slowest, not 5 (round 17, r16 verdict item 4): with only the
    // top-5 medians in the tail window, one round's optimizations
    // pushing the previous top-5 out of the list left the driver's
    // round-over-round comparison with n_common = 0 and a null geomean.
    // 25 median entries + their mins is ~1.4 KB — the whole compact
    // line stays under the driver's ~2 KB stdout tail window (asserted
    // below so a future rename can't silently push it back out).
    // Locale.ROOT: the f-interpolator uses the JVM default locale, and a
    // comma-decimal locale would render 1.234 as "1,234" — invalid JSON,
    // defeating the compact line's whole purpose. Every other number on
    // the line goes through Double.toString, which is locale-independent.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val minByName = results.collect { case (k, _, Some(mn), _) => k -> mn }.toMap
    def mkCompact(topN: Int): String = {
      val slowNames = results.collect { case (k, Some(med), _, _) => (k, med) }
        .sortBy(-_._2).take(topN)
      val slowQs = slowNames
        .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      // the same names' per-query MINIMA — the contention-proof
      // comparator (see minTotal above) — so the driver can compute a
      // geomean even when its own warm reps are contended
      val slowMins = slowNames.flatMap { case (k, _) =>
        minByName.get(k).map(mn => "\"" + k + "\":" + fmt(mn)) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","metric_version":$metricVersion,"policy":$policy,"cpus":$cpus,"cold_s":$coldTotal,"min_s":$minTotal,$coldOnly"reps":$reps,"warmup_errors":$warmupErrors,"n":${results.size},"errors":$errs,"queries":$slowQs,"queries_min":$slowMins,"sf":"$sfDir","compact":true,"full":"BENCH_FULL.json"}"""
    }
    // the compact line exists to fit the driver's ~2KB stdout tail
    // window; when it does not (e.g. a long errors array), shed query
    // entries rather than emit a line whose JSON start falls outside
    // the window — a truncated line parses as nothing at all
    val compact = Seq(25, 10, 5, 0).map(mkCompact).find(_.length < 1950)
      .getOrElse(mkCompact(0))
    println(compact)
    spark.stop()
  }
}
