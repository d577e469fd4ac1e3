package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.tools.Scale.timed

/** MinHash-LSH gate (the gram gate's pattern applied to dd03's band
  * pipeline — the highest-volume production dedup path): a synthetic
  * corpus ~100x sf0.1's document count at the default size, generated
  * ENTIRELY map-side from spark.range, with planted near-dup pairs at
  * KNOWN exact Jaccard levels so the gates are closed-form:
  *
  *   - every doc is W = 64 tokens of doc-unique md5 word soup (no
  *     accidental cross-doc shingle repeats at any realistic scale),
  *     so a doc has W-2 = 62 3-gram shingles and UNPLANTED pairs have
  *     Jaccard exactly 0;
  *   - every 100th doc gets a planted PARTNER (id + nDocs) sharing its
  *     first P tokens (fresh soup after), i.e. exactly P-2 shared
  *     shingles and exact Jaccard (P-2)/(124-(P-2)), in three tiers:
  *       id % 300 == 0:   P = 54 → J = 52/72  ≈ 0.722  (strong, ≥ 0.7)
  *       id % 300 == 100: P = 42 → J = 40/84  ≈ 0.476  (medium)
  *       id % 300 == 200: P = 23 → J = 21/103 ≈ 0.204  (below 0.4)
  *
  * Gates (all derived, none tuned):
  *   - candidate set stays BAND-BUCKETED: |candidates| ≤ planted pairs
  *     (an all-pairs regression would be ~n²/2 ≈ 1.3e11) — soup
  *     uniqueness means two unrelated docs share a band only by a
  *     64-bit double-collision;
  *   - strong-tier recall is EXACT: a J = 0.722 pair misses all 32
  *     bands w.p. (1-J²)^32 ≈ 6e-11 — with ~nDocs/300 planted pairs
  *     the expected total misses are ~1e-7, so require ALL found;
  *   - medium-tier recall ≥ 0.995, the banding curve 1-(1-J²)^32 =
  *     0.99973 minus slack;
  *   - the weak tier NEVER reaches the output (exact Jaccard 0.204 is
  *     below the 0.4 verification threshold — deterministic), and no
  *     unplanted pair ever appears (exact Jaccard 0).
  *
  * Size = nDocs, rounded down to the multiple of 300 the three equal
  * tiers need (default 499800 ≈ 100x sf0.1's 5000 docs). Results
  * recorded in docs/ROUND10.md.
  */
private[tools] object LshGate {

  def run(spark: SparkSession, size: Long): Scale.Measures = {
    val nDocs = size / 300 * 300
    val W = 64

    // doc-unique soup: token i of doc d = 6 hex chars of md5(d '_' i)
    def soup(docId: org.apache.spark.sql.Column, from: Int, until: Int) =
      transform(sequence(lit(from), lit(until - 1)),
        i => substring(md5(concat(docId, lit("_"), i)), 1, 6))

    val base = spark.range(0, nDocs)
      .select(col("id").as("doc_id"),
        array_join(soup(col("id"), 0, W), " ").as("text"))
    // partners: first P tokens copied from the base doc, the rest
    // partner-unique soup (keyed by the partner id, so it can't
    // accidentally match anything)
    val pExpr = when(col("id") % 300 === 0, 54)
      .when(col("id") % 300 === 100, 42)
      .otherwise(23)
    val partners = spark.range(0, nDocs)
      .filter(col("id") % 100 === 0)
      .withColumn("p", pExpr)
      .select((col("id") + nDocs).as("doc_id"),
        array_join(concat(
          slice(soup(col("id"), 0, W), lit(1), col("p")),
          slice(soup(col("id") + nDocs, 0, W), lit(1), lit(W) - col("p"))),
          " ").as("text"))

    val docs = base.unionByName(partners)

    val (sigs, sigWall) = timed(graft.ops.Dedup.lshSignatures(docs))
    val ((nCand, pairs), lshWall) = timed {
      val cand = graft.ops.Dedup.lshCandidates(sigs)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val n = cand.count()
      val p = graft.ops.Dedup.lshVerify(sigs, cand, minJaccard = 0.4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      cand.unpersist()
      (n, p)
    }

    val nPlanted = nDocs / 100
    val nPerTier = nDocs / 300
    // ---- gate 1: band-bucketed, never all-pairs ----
    require(nCand <= nPlanted,
      s"candidate set grew past the planted pairs: $nCand > $nPlanted " +
        "(unplanted docs share no shingles; a band collision between " +
        "them is a 64-bit double-collision)")
    // ---- gates 2-4: recall per planted tier, exact Jaccard values ----
    val byPair = pairs.map { case (a, b, j) => (a, b) -> j }.toMap
    require(byPair.size == pairs.length, "duplicate pairs in the output")
    def tierFound(offset: Long): Seq[Double] =
      (0L until nDocs by 300L).map(_ + offset)
        .filter(_ < nDocs).flatMap(id => byPair.get((id, id + nDocs)))
    val strong = tierFound(0)
    val medium = tierFound(100)
    val weak = tierFound(200)
    require(strong.size == nPerTier,
      s"strong tier must be complete: ${strong.size} of $nPerTier " +
        "(miss probability ~6e-11 per pair)")
    require(strong.forall(j => math.abs(j - 52.0 / 72.0) < 1e-12),
      "strong-tier exact Jaccard must be 52/72")
    val mediumRecall = medium.size.toDouble / nPerTier
    require(mediumRecall >= 0.995,
      s"medium-tier recall $mediumRecall below the banding curve " +
        "(theory: 1-(1-0.476^2)^32 = 0.99973)")
    require(medium.forall(j => math.abs(j - 40.0 / 84.0) < 1e-12),
      "medium-tier exact Jaccard must be 40/84")
    require(weak.isEmpty,
      s"weak tier (J=0.204 < 0.4) must never reach the output, got ${weak.size}")
    // ---- gate 5: nothing unplanted ----
    val planted = (0L until nDocs by 100L).map(id => (id, id + nDocs)).toSet
    val unplanted = pairs.filterNot { case (a, b, _) => planted((a, b)) }
    require(unplanted.isEmpty,
      s"unplanted pairs appeared (exact Jaccard of disjoint soups is 0): " +
        unplanted.take(3).mkString(", "))

    Seq("n_docs" -> (nDocs + nPlanted), "n_candidates" -> nCand,
      "n_planted" -> nPlanted, "strong_found" -> strong.size,
      "medium_recall" -> mediumRecall, "sig_sec" -> sigWall, "lsh_sec" -> lshWall)
  }
}
