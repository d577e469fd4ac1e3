package graft.ops

import graft.SparkSpec

/** The batched BPE trainer's exactness contract: batched merge
  * selection (TextAnalysis.bpeSelectBatch) must make bpeTrainBatched
  * merge-for-merge identical to the one-argmax-per-round-trip
  * sequential trainer — same merges, same recorded counts, same final
  * vocab table — on the reference corpus AND on an adversarial
  * tie-heavy corpus, at several batch caps. The unit tests pin the
  * three selection rules (prefix stop, merged-spelling interaction,
  * strict-count truncation) that make the equivalence a theorem rather
  * than a hope. */
class BpeBatchedSpec extends SparkSpec {

  private def sel(cands: Seq[(String, String, Long)], cap: Int = 100,
      all: Boolean = true, alphabet: Set[String] = Set.empty) =
    TextAnalysis.bpeSelectBatch(cands, cap, all, alphabet)

  test("selection is a PREFIX: a shared-symbol candidate stops the walk " +
      "even when later candidates are disjoint") {
    // (x,a) shares a with (a,b); its count may NOT decrease after the
    // (a,b) merge, so (c,d) cannot be batched past it
    val got = sel(Seq(("a", "b", 100L), ("x", "a", 90L), ("c", "d", 80L)))
    assert(got == Seq(("a", "b", 100L)))
  }

  test("strict-count truncation: accepted members tied with the stop " +
      "candidate are dropped (created-pair tie hazard)") {
    // (d,x) at 80 stops the walk; (z,w) also at 80 must go too — a pair
    // created by the (c,d) merge could tie 80 and win the (l,r) sort
    val got = sel(Seq(("c", "d", 100L), ("z", "w", 80L), ("d", "x", 80L)))
    assert(got == Seq(("c", "d", 100L)))
  }

  test("merged-spelling interaction: a candidate whose symbol equals " +
      "an accepted pair's concat is a stop, not a batch member") {
    // pre-existing symbol "ab" + batch merge (a,b) -> "ab": candidate
    // (ab,c)'s snapshot count misses the newly created "ab" tokens
    val got = sel(Seq(("a", "b", 100L), ("ab", "c", 90L), ("q", "t", 50L)))
    assert(got == Seq(("a", "b", 100L)))
  }

  test("batch cap truncates with the same strict-count rule") {
    val c = Seq(("a", "b", 100L), ("c", "d", 90L), ("e", "f", 80L))
    assert(sel(c, cap = 2) == Seq(("a", "b", 100L), ("c", "d", 90L)))
    // cap boundary tie: member at the cap's count must drop
    val t = Seq(("a", "b", 100L), ("c", "d", 80L), ("e", "f", 80L))
    assert(sel(t, cap = 2) == Seq(("a", "b", 100L)))
  }

  test("count-neutral overlaps batch together: shared lefts and shared " +
      "rights are admitted") {
    // (e,r) and (e,n): an "e" followed by "n" is not followed by "r",
    // so the (e,r) merge is provably invisible to (e,n) — natural-text
    // top pairs share lefts constantly and this is what makes batches
    // deep. (a,n)/(i,n) share a RIGHT — equally neutral.
    val got = sel(Seq(("e", "r", 100L), ("e", "n", 90L), ("i", "n", 80L),
      ("a", "n", 70L), ("o", "u", 60L)))
    assert(got.size == 5)
  }

  test("alphabet collision rejects a merge whose spelling already " +
      "exists (count-increase hazard)") {
    // "xy" is a live symbol: merging (x,y) would mint MORE "xy" tokens
    // and inflate counts of pairs touching the old "xy" — must wait
    val got = sel(Seq(("x", "y", 100L), ("q", "t", 90L)),
      alphabet = Set("x", "y", "q", "t", "xy"))
    assert(got == Seq(("x", "y", 100L))) // argmax fallback, still exact
  }

  test("trigram-certified admission: a conditional overlap with a " +
      "zero-count trigram joins the batch") {
    // (x,a) only interacts with (a,b) through trigram "x a b"; certify
    // it absent and the whole slice batches
    val probes = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String)]
    val c = Seq(("a", "b", 100L), ("x", "a", 90L), ("c", "d", 80L))
    val got = TextAnalysis.bpeSelectBatch(c, 100, true, Set.empty,
      ts => { probes ++= ts; Set.empty })
    assert(got == c)
    assert(probes.contains(("x", "a", "b")))
    // and a NONZERO certificate stops exactly there
    val stopped = TextAnalysis.bpeSelectBatch(c, 100, true, Set.empty,
      _ => Set(("x", "a", "b")))
    assert(stopped == Seq(("a", "b", 100L)))
  }

  test("a self-pair closes the batch: its minted (aa,aa)/(aa,a) pairs " +
      "are bounded by its own count, not effStop") {
    // (o,o) would otherwise batch with (z,q) — but merging (o,o) over
    // "oooo..." runs creates (oo,oo) pairs that can outrank (z,q) in
    // the sequential run (the TextOpsSpec oooo corpus caught this)
    val got = sel(Seq(("o", "o", 21L), ("z", "q", 2L), ("x", "y", 1L)))
    assert(got == Seq(("o", "o", 21L)))
    // a non-self batch continues past the same shape
    assert(sel(Seq(("o", "u", 21L), ("z", "q", 2L))).size == 2)
  }

  test("run-heavy corpus (the oooo trap): batched == sequential") {
    import spark.implicits._
    val dir = tempDir("graft_bpe_runs").toString
    val text = Seq.fill(7)("oooo ooo oo zq").mkString(" ") + " oooooo zq oo"
    Seq((0L, text)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assertSameTraining(dir, 6, Seq(2, 100))
  }

  test("argmax fallback when truncation empties the batch") {
    // (b,c).l == (a,b).r — interacting — and tied at 100, so strict
    // truncation drops (a,b) too; fallback is the plain argmax
    val got = sel(Seq(("a", "b", 100L), ("b", "c", 100L)))
    assert(got == Seq(("a", "b", 100L)))
    // same-LEFT ties are count-neutral and batch together instead
    assert(sel(Seq(("a", "b", 100L), ("a", "c", 100L))) ==
      Seq(("a", "b", 100L), ("a", "c", 100L)))
  }

  test("slice not covering the table bounds effStop at the slice tail") {
    // sliceCoversAll=false: unseen candidates may hold count 80, so the
    // 80-count member cannot be batched even though nothing in the
    // slice interacts
    val c = Seq(("a", "b", 100L), ("c", "d", 80L))
    assert(sel(c, all = false) == Seq(("a", "b", 100L)))
    assert(sel(c, all = true) == c)
  }

  private def assertSameTraining(d: String, n: Int, caps: Seq[Int]): Unit = {
    val (seqMerges, seqWords) = TextAnalysis.bpeTrainSequential(spark, d, n)
    val seqTable = seqWords.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2).toList))
      .sortBy(_._1).toSeq
    for (cap <- caps) {
      val (bm, bw) = TextAnalysis.bpeTrainBatched(spark, d, n, cap)
      assert(bm == seqMerges,
        s"cap=$cap merge list diverged:\n batched=$bm\n seq=$seqMerges")
      val bt = bw.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2).toList))
        .sortBy(_._1).toSeq
      assert(bt == seqTable, s"cap=$cap vocab table diverged")
    }
    // the in-memory heap trainer (the production default behind tx17)
    // must match too — merges, counts, final vocab
    val (lm, lw) = TextAnalysis.bpeTrainLocal(spark, d, n).get
    assert(lm == seqMerges,
      s"local merge list diverged:\n local=$lm\n seq=$seqMerges")
    val lt = lw.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2).toList))
      .sortBy(_._1).toSeq
    assert(lt == seqTable, "local vocab table diverged")
  }

  test("reference corpus: batched == sequential merge-for-merge at " +
      "caps 1, 3, 100") {
    assertSameTraining(sf, 10, Seq(1, 3, 100))
  }

  test("adversarial tie-heavy corpus: batched == sequential across " +
      "20 merges at caps 2, 5, 50") {
    // Small alphabet + skewed repeats: counts collide constantly and
    // most top pairs share symbols, so every selection rule is
    // exercised (prefix stops, truncation ties, argmax fallbacks).
    val rnd = new scala.util.Random(42)
    val alpha = "abc"
    val words = Seq.fill(60) {
      (0 until (3 + rnd.nextInt(4))).map(_ => alpha(rnd.nextInt(3))).mkString
    }
    val text = Seq.fill(40) {
      Seq.fill(12)(words(rnd.nextInt(words.size))).mkString(" ")
    }
    import spark.implicits._
    val dir = tempDir("graft_bpe_adv").toString
    text.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assertSameTraining(dir, 20, Seq(2, 5, 50))
  }
}
