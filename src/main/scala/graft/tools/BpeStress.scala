package graft.tools

import org.apache.spark.sql.functions._

/** Batched-BPE stress driver: trains a PRODUCTION-SIZED vocabulary
  * (default 1000 merges) with the batched trainer and proves two
  * things the 10-merge registered query cannot:
  *
  *   1. ROUND-TRIP ECONOMY — the batched trainer reaches the vocab in
  *      ~merges/batch driver round-trips instead of one per merge. At
  *      a real 32k vocab this is the difference between 64k sequential
  *      Spark jobs (latency-bound: hours of pure scheduling) and a few
  *      hundred. Reported: rounds, merges, merges/round, and the
  *      projected sequential wall time from its measured per-merge
  *      rate.
  *   2. EXACTNESS AT DEPTH — the first `checkPrefix` merges (default
  *      100) are re-derived with the sequential reference trainer and
  *      must match tuple-for-tuple (step, l, r, merged, cnt): the
  *      equivalence argument (TextAnalysis.bpeSelectBatch) holding on
  *      a big corpus deep past the toy depth BpeBatchedSpec pins.
  *
  * The default corpus is GENERATED (the ScatterStress pattern):
  * `/root/testdata` documents carry a 31-word lexicon that converges
  * after ~89 merges with near-singleton batches — every surviving pair
  * chains with every other, which is the degenerate case for batching
  * and for BPE itself. Real tokenizer training runs over a large open
  * vocabulary, so the driver builds one: a ~`lexicon`-word zipf corpus
  * (rank sampled as V^u — the inverse-CDF of zipf(1) — from hashed
  * ids, words as md5-derived strings), fully distributed and
  * deterministic, `nDocs` × `docLen` tokens. Corpus SIZE is orthogonal
  * here — training touches the corpus once and every iteration is
  * vocab-sized (that single pass is ScatterStress-class work); what
  * this stresses is vocabulary DEPTH.
  *
  * Prints one JSON line. Run:
  *   tools/run.sh graft.tools.BpeStress [nMerges] [checkPrefix]
  *     [nDocs] [docLen] [lexicon] [batchedCap]
  * `batchedCap` bounds the DISTRIBUTED trainer's merges (its rounds
  * are the expensive part; a 32k-vocab batched run is hours of
  * vocab-sized rounds) while the local trainer and its exactness
  * checks run the full `nMerges` — the 32k claim is the local
  * trainer's. Results recorded in docs/ROUND11.md.
  */
object BpeStress {
  def main(args: Array[String]): Unit = {
    val nMerges = args.headOption.map(_.toInt).getOrElse(1000)
    val checkPrefix = args.drop(1).headOption.map(_.toInt).getOrElse(100)
    val nDocs = args.drop(2).headOption.map(_.toInt).getOrElse(50000)
    val docLen = args.drop(3).headOption.map(_.toInt).getOrElse(200)
    val lexicon = args.drop(4).headOption.map(_.toInt).getOrElse(20000)
    val batchedCap = args.drop(5).headOption.map(_.toInt).getOrElse(nMerges)
    val spark = graft.GraftSession()

    // deterministic zipf corpus: token j of doc i draws rank
    // floor(V^u) with u = hash(i, j) mapped to [0,1); the word for
    // rank r is an md5-derived hex string (length 4–9). No RNG state,
    // no driver-side data — reruns are bit-identical.
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_corpus")
      .toString
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
    val t0 = System.nanoTime()
    val (merges, _) = graft.ops.TextAnalysis.bpeTrainBatched(
      spark, dir, math.min(nMerges, batchedCap),
      onRound = n => roundStarts += n)
    val batchedSec = (System.nanoTime() - t0) / 1e9
    val rounds = roundStarts.size
    val sizes = (roundStarts.drop(1) :+ merges.size)
      .zip(roundStarts).map { case (b, a) => b - a }.sorted

    // the in-memory heap trainer (tx17's production default): the same
    // one corpus pass, then zero per-merge round-trips — runs the FULL
    // vocab and must agree with the batched list over their overlap
    val t2 = System.nanoTime()
    val (localMerges, _) = graft.ops.TextAnalysis.bpeTrainLocal(
      spark, dir, nMerges).get
    val localSec = (System.nanoTime() - t2) / 1e9
    require(localMerges.take(merges.size) == merges,
      s"local trainer diverged from batched at merge ${
        localMerges.zip(merges).indexWhere(p => p._1 != p._2)}")

    val t1 = System.nanoTime()
    val (seqPrefix, _) = graft.ops.TextAnalysis.bpeTrainSequential(
      spark, dir, math.min(checkPrefix, localMerges.size))
    val seqSec = (System.nanoTime() - t1) / 1e9

    require(localMerges.take(seqPrefix.size) == seqPrefix,
      s"local diverged from sequential within the first " +
        s"${seqPrefix.size} merges:\n local=${localMerges.take(seqPrefix.size)}" +
        s"\n seq=$seqPrefix")

    val mpr = merges.size.toDouble / math.max(rounds, 1)
    val seqProjectedSec =
      seqSec / math.max(seqPrefix.size, 1) * localMerges.size
    println(s"""{"tool":"BpeStress","docs":$nDocs,"doc_len":$docLen,""" +
      s""""lexicon":$lexicon,"merges":${localMerges.size},"batched_merges":${merges.size},""" +
      s""""rounds":$rounds,"merges_per_round":${math.round(mpr * 10) / 10.0},""" +
      s""""batch_p50":${sizes(sizes.size / 2)},""" +
      s""""batch_p90":${sizes(sizes.size * 9 / 10)},""" +
      s""""batch_max":${sizes.last},""" +
      s""""prefix_checked":${seqPrefix.size},"prefix_exact":true,""" +
      s""""batched_sec":${math.round(batchedSec * 10) / 10.0},""" +
      s""""local_sec":${math.round(localSec * 10) / 10.0},""" +
      s""""local_exact":true,""" +
      s""""seq_sec_for_prefix":${math.round(seqSec * 10) / 10.0},""" +
      s""""seq_projected_sec":${math.round(seqProjectedSec * 10) / 10.0}}""")
    spark.stop()
  }
}
