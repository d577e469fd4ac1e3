package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Semantics gates for the n-gram text operators (tx10/tx11/dc01 share
  * the let-bound wordGrams builder). */
class TextOpsSpec extends SparkSpec {

  test("wordGrams matches naive sliding-window construction") {
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .withColumn("g", TextAnalysis.wordGrams(col("t"), 5))
      .limit(50).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = r.getSeq[String](1)
      val expected =
        if (t.size >= 5) t.sliding(5).map(_.mkString(" ")).toSeq
        else Seq.empty[String]
      assert(r.getSeq[String](2) == expected, s"doc ${r.getLong(0)}")
    }
  }

  test("wordGrams yields empty array below n tokens") {
    import spark.implicits._
    val out = Seq("a b c", "a b c d e").toDF("text")
      .select(TextAnalysis.wordGrams(split(col("text"), " "), 5).as("g"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) == Seq.empty[String])
    assert(out(1) == Seq("a b c d e"))
  }

  test("tx11 bigram LM: exact conditional probabilities, ranked top-3") {
    val df = TextAnalysis.queries("tx11_bigram_lm")(spark, sf).cache()
    // p is the exact rational c12/c1 (single double division)
    assert(df.filter(col("p") =!= col("c12").cast("double") / col("c1")).count() == 0)
    assert(df.filter(col("c12") > col("c1")).count() == 0)
    assert(df.filter(col("rank") < 1 || col("rank") > 3).count() == 0)
    // within each head word, probability is non-increasing with rank
    val w = Window.partitionBy("w1").orderBy("rank")
    val inversions = df.withColumn("prev", lag(col("p"), 1).over(w))
      .filter(col("prev").isNotNull && col("p") > col("prev")).count()
    assert(inversions == 0)
    df.unpersist()
  }

  test("tx16 BM25: full driver-side model recount (scores, sets, ranks)") {
    val out = TextAnalysis.queries("tx16_bm25_topk")(spark, sf).collect()
      .map(r => ((r.getInt(0), r.getInt(3)), (r.getLong(1), r.getDouble(2))))
      .toMap
    // independent BM25 recount (k1=1.2, b=0.75, Lucene idf, 4-dec rounds)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).toLowerCase.split(" ", -1).toSeq))
    val n = docs.size
    val avgdl = docs.map(_._2.size.toLong).sum.toDouble / n
    val tf = docs.map { case (id, t) =>
      (id, t.groupBy(identity).map { case (w, xs) => (w, xs.size) })
    }.toMap
    val dfreq = docs.flatMap(_._2.distinct).groupBy(identity)
      .map { case (w, xs) => (w, xs.size) }
    def idf(w: String) = BigDecimal(
      math.log((n - dfreq(w) + 0.5) / (dfreq(w) + 0.5) + 1.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val queries = Map(1 -> Seq("spark", "join"), 2 -> Seq("dup", "stream"),
      3 -> Seq("window", "sort", "merge"))
    val expect = queries.toSeq.flatMap { case (qid, terms) =>
      docs.flatMap { case (id, t) =>
        val dl = t.size
        val s = terms.flatMap { w =>
          tf(id).get(w).map(f =>
            idf(w) * (f * 2.2 / (f + 1.2 * (0.25 + 0.75 * dl / avgdl))))
        }.sum
        if (s > 0) Some((id,
          BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
        else None
      }.sortBy { case (id, sc) => (-sc, id) }.take(10).zipWithIndex
        .map { case ((id, sc), i) => ((qid, i + 1), (id, sc)) }
    }
    assert(out.size == 30 && expect.size == 30)
    expect.foreach { case (k, (id, sc)) =>
      assert(out(k)._1 == id && math.abs(out(k)._2 - sc) < 1e-9,
        s"rank $k: got ${out(k)}, want ($id, $sc)")
    }
  }

  // reference BPE trainer (Sennrich §3.2): word-freq table, greedy
  // argmax with (cnt desc, l, r) ties, left-to-right non-overlap merge
  private def refBpe(texts: Seq[String], n: Int): Seq[(Int, String, String, String, Long)] =
    refBpeFull(texts, n)._1

  private def refBpeFull(texts: Seq[String], n: Int)
      : (Seq[(Int, String, String, String, Long)], Map[Vector[String], Long]) = {
    var words: Map[Vector[String], Long] = texts
      .flatMap(_.toLowerCase.split(" ", -1)).groupBy(identity)
      .map { case (w, xs) => (w.toVector.map(_.toString), xs.size.toLong) }
    def mergeWord(s: Vector[String], x: String, y: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < s.size) {
        if (i + 1 < s.size && s(i) == x && s(i + 1) == y) {
          out += (x + y); i += 2
        } else { out += s(i); i += 1 }
      }
      out.result()
    }
    val merges = (1 to n).flatMap { step =>
      val counts = words.toSeq.flatMap { case (s, f) =>
        s.zip(s.drop(1)).map(p => (p, f))
      }.groupBy(_._1).map { case (p, xs) => (p, xs.map(_._2).sum) }
      if (counts.isEmpty) None
      else {
        val ((x, y), cnt) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        words = words.toSeq.map { case (s, f) => (mergeWord(s, x, y), f) }
          .groupBy(_._1).map { case (s, xs) => (s, xs.map(_._2).sum) }
        Some((step, x, y, x + y, cnt))
      }
    }
    (merges, words)
  }

  test("tx17 BPE: matches the reference trainer on the corpus") {
    val got = TextAnalysis.queries("tx17_bpe_train")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).sortBy(_._1).toSeq
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0)).toSeq
    assert(got == refBpe(texts, 10))
  }

  test("tx18 BPE encode: histogram equals the reference segmentation") {
    val got = TextAnalysis.queries("tx18_bpe_encode")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0)).toSeq
    val words = refBpeFull(texts, 10)._2
    val expect = words.toSeq.flatMap { case (s, f) => s.map(t => (t, f)) }
      .groupBy(_._1).map { case (t, xs) => (t, xs.map(_._2).sum) }
    assert(got == expect, s"histograms diverge: ${got.toSet -- expect.toSet} " +
      s"vs missing ${expect.toSet -- got.toSet}")
    // conservation: token occurrences weighted by length = corpus letters
    val letters = texts.map(t => t.toLowerCase.count(_ != ' ')).map(_.toLong).sum
    assert(got.map { case (t, c) => t.length * c }.sum == letters)
  }

  test("tx19 doc token counts: conservation against tx18's histogram") {
    val t19 = TextAnalysis.queries("tx19_bpe_doc_tokens")(spark, sf)
      .agg(sum(col("n_bpe_tokens")), sum(col("n_words"))).collect()(0)
    val t18 = TextAnalysis.queries("tx18_bpe_encode")(spark, sf)
      .agg(sum(col("cnt"))).collect()(0)
    // total subword occurrences across docs == the corpus histogram mass
    assert(t19.getLong(0) == t18.getLong(0))
    // every word is at least one subword
    assert(t19.getLong(0) >= t19.getLong(1) && t19.getLong(1) > 0)
  }

  test("tx17 BPE: overlapping-run merges are left-to-right non-overlapping") {
    // 'oo'-heavy corpus forces an l = r merge; "oooo" must become
    // [oo][oo] and "ooo" [oo][o] — the Sennrich scan, not a re-merge
    val d = tempDir("graft_bpe").toString
    import spark.implicits._
    val texts = Seq("oooo oooo ooo zq", "oooo ooo oo zq", "oooo oooo oo")
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val got = TextAnalysis.queries("tx17_bpe_train")(spark, d).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).sortBy(_._1).toSeq
    val want = refBpe(texts, 10)
    assert(got == want, s"got $got\nwant $want")
    // the winning first merge is (o,o); its count is adjacency
    // occurrences (3 in "oooo", overlaps included, as in Sennrich's
    // get_stats) while the APPLIED merge is non-overlapping — the
    // reference's mergeWord asserts that distinction above
    assert(got.head._2 == "o" && got.head._3 == "o")
  }

  test("tx21 Kneser–Ney: proper distribution per head, scores ≤ 0, " +
    "and a model recompute matches on a sample") {
    // rebuild the KN model in plain Scala from the raw corpus
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), lower(col("text")).as("t")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val pairs = texts.flatMap { case (id, t) =>
      if (t.size >= 2) t.sliding(2).map(w => (id, w.head, w(1))) else Nil
    }
    val c12 = pairs.groupBy(p => (p._2, p._3)).view.mapValues(_.size).toMap
    val c1 = c12.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n1w = c12.groupBy(_._1._1).view.mapValues(_.size).toMap
    val nc = c12.groupBy(_._1._2).view.mapValues(_.size).toMap
    val types = c12.size
    def pkn(w1: String, w2: String): Double =
      (math.max(c12((w1, w2)) - 0.75, 0.0) +
        0.75 * n1w(w1) * nc(w2) / types) / c1(w1)
    // the KN property MLE lacks: unseen-continuation mass exists, yet
    // observed mass still sums below 1 per head (the full distribution
    // including unseen w2 sums to exactly 1)
    c1.keys.take(200).foreach { w1 =>
      val seen = c12.keys.filter(_._1 == w1)
        .map { case (a, b) => pkn(a, b) }.sum
      assert(seen <= 1.0 + 1e-9, s"head $w1 observed mass $seen > 1")
      assert(seen > 0.0, s"head $w1 zero mass")
    }
    val out = TextAnalysis.queries("tx21_kn_lm_score")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.nonEmpty)
    out.values.foreach { case (_, s) => assert(s <= 0.0) }
    // model recompute of the per-doc score on a sample
    texts.filter(_._2.size >= 2).take(25).foreach { case (id, t) =>
      val ps = t.sliding(2).map(w => pkn(w.head, w(1))).toSeq
      val want = BigDecimal(ps.map(p => math.log(p) / math.log(2.0)).sum / ps.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (n, s) = out(id)
      assert(n == ps.size, s"doc $id n_bigrams")
      assert(math.abs(s - want) <= 1e-4 + 1e-9, s"doc $id: got $s want $want")
    }
  }
}
