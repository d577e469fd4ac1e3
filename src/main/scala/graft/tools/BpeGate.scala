package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.tools.Scale.timed

/** Batched-BPE gate: trains a PRODUCTION-SIZED vocabulary (1000 merges
  * at the default size) with the batched trainer and proves two things
  * the 10-merge registered query cannot:
  *
  *   1. ROUND-TRIP ECONOMY — the batched trainer reaches the vocab in
  *      ~merges/batch driver round-trips instead of one per merge. At
  *      a real 32k vocab this is the difference between 64k sequential
  *      Spark jobs (latency-bound: hours of pure scheduling) and a few
  *      hundred. Reported: rounds, merges, merges/round, and the
  *      projected sequential wall time from its measured per-merge
  *      rate.
  *   2. EXACTNESS AT DEPTH — the first `checkPrefix` merges (100 at the
  *      default size) are re-derived with the sequential reference
  *      trainer and must match tuple-for-tuple (step, l, r, merged,
  *      cnt): the equivalence argument (TextAnalysis.bpeSelectBatch)
  *      holding on a big corpus deep past the toy depth BpeBatchedSpec
  *      pins.
  *
  * The corpus is GENERATED (the scatter gate's pattern):
  * the generated testdata documents carry a 31-word lexicon that converges
  * after ~89 merges with near-singleton batches — every surviving pair
  * chains with every other, which is the degenerate case for batching
  * and for BPE itself. Real tokenizer training runs over a large open
  * vocabulary, so the gate builds one: a ~`lexicon`-word zipf corpus
  * (rank sampled as V^u — the inverse-CDF of zipf(1) — from hashed
  * ids, words as md5-derived strings), fully distributed and
  * deterministic, `nDocs` × `docLen` tokens. Corpus SIZE is orthogonal
  * here — training touches the corpus once and every iteration is
  * vocab-sized (that single pass is scatter-gate-class work); what
  * this stresses is vocabulary DEPTH.
  *
  * Size = nDocs (default 50000) × 200 tokens; lexicon = 2/5 nDocs
  * words, nMerges = nDocs/50, checkPrefix = min(100, nMerges). Both
  * trainers run the full nMerges. The 32k-vocab claim recorded in
  * docs/ROUND11.md is the local trainer's.
  */
private[tools] object BpeGate {

  def run(spark: SparkSession, nDocs: Long): Scale.Measures = {
    val docLen = 200
    val lexicon = nDocs * 2 / 5
    val nMerges = (nDocs / 50).toInt
    val checkPrefix = math.min(100, nMerges)

    Scale.withTempDir("graft_bpe_corpus") { dir =>
      // deterministic zipf corpus: token j of doc i draws rank
      // floor(V^u) with u = hash(i, j) mapped to [0,1); the word for
      // rank r is an md5-derived hex string (length 4–9). No RNG state,
      // no driver-side data — reruns are bit-identical.
      spark.range(nDocs).select(col("id").as("doc_id"),
          concat_ws(" ", expr(
            s"""transform(sequence(1, $docLen), j -> (
               |  substr(md5(cast(least(cast(pow($lexicon,
               |        pmod(hash(id * 100003 + j), 1000000) / 1e6)
               |      AS BIGINT), $lexicon - 1) AS STRING)),
               |    1, 4 + pmod(hash(id * 7 + j), 6))))""".stripMargin))
            .as("text"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      val roundStarts = scala.collection.mutable.ArrayBuffer.empty[Int]
      val ((merges, _), batchedSec) = timed(graft.ops.TextAnalysis.bpeTrainBatched(
        spark, dir, nMerges, onRound = n => roundStarts += n))
      val rounds = roundStarts.size
      val sizes = (roundStarts.drop(1) :+ merges.size)
        .zip(roundStarts).map { case (b, a) => b - a }.sorted

      // the in-memory heap trainer (tx17's production default): the same
      // one corpus pass, then zero per-merge round-trips — must agree
      // with the batched list
      val (localMerges, localSec) = timed(
        graft.ops.TextAnalysis.bpeTrainLocal(spark, dir, nMerges).get._1)
      require(localMerges.take(merges.size) == merges,
        s"local trainer diverged from batched at merge ${
          localMerges.zip(merges).indexWhere(p => p._1 != p._2)}")

      val ((seqPrefix, _), seqSec) = timed(graft.ops.TextAnalysis.bpeTrainSequential(
        spark, dir, math.min(checkPrefix, localMerges.size)))
      require(localMerges.take(seqPrefix.size) == seqPrefix,
        s"local diverged from sequential within the first " +
          s"${seqPrefix.size} merges:\n local=${localMerges.take(seqPrefix.size)}" +
          s"\n seq=$seqPrefix")

      Seq("docs" -> nDocs, "doc_len" -> docLen, "lexicon" -> lexicon,
        "merges" -> localMerges.size, "batched_merges" -> merges.size,
        "rounds" -> rounds,
        "merges_per_round" -> math.round(merges.size * 10.0 / math.max(rounds, 1)) / 10.0,
        "batch_p50" -> sizes(sizes.size / 2), "batch_p90" -> sizes(sizes.size * 9 / 10),
        "batch_max" -> sizes.last,
        "prefix_checked" -> seqPrefix.size, "prefix_exact" -> true,
        "batched_sec" -> batchedSec, "local_sec" -> localSec, "local_exact" -> true,
        "seq_sec_for_prefix" -> seqSec,
        "seq_projected_sec" -> seqSec / math.max(seqPrefix.size, 1) * localMerges.size)
    }
  }
}
