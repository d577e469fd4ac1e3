package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Stream/batch parity for incremental dedup: the streaming keep-first
  * over a drop directory must equal batch keep-first over the same
  * corpus, and a replayed (duplicate) file must add zero rows. */
class DedupStreamSpec extends SparkSpec {

  private def batchKeepFirst = graft.Tables.load(spark, sf, "documents")
    .select(col("doc_id"),
      md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"))
    .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    .select(col("doc_id"), col("fp"))

  test("streaming keep-first equals batch keep-first on the same corpus") {
    val dir = tempDir("docs_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"))
    val q = DedupStream.dedupKeepFirst(spark,
        DedupStream.readDocs(spark, dir.toString))
      .writeStream.format("memory").queryName("dedup_docs")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("dedup_docs").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val batch = batchKeepFirst.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(streamed == batch, "stream diverged from batch keep-first")

      // replay: drop the SAME file in again — every fingerprint is
      // already in state, so the new trigger must emit nothing
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/documents.parquet"),
        dir.resolve("replay.parquet"))
      q.processAllAvailable()
      val after = spark.table("dedup_docs").count()
      assert(after == streamed.size.toLong,
        s"replayed duplicates leaked: $after rows vs ${streamed.size}")
    } finally q.stop()
  }

  test("cross-trigger duplicates are dropped (first trigger wins)") {
    import spark.implicits._
    val dir = tempDir("docs_stream2")
    // trigger 1: ids 1-3; trigger 2 (same texts, higher ids) must vanish
    Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "epsilon zeta"))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$dir/b0")
    val q = DedupStream.dedupKeepFirst(spark,
        DedupStream.readDocs(spark, s"$dir/b*/", maxFilesPerTrigger = 1))
      .writeStream.format("memory").queryName("dedup_docs2")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      Seq((10L, "alpha beta"), (11L, "gamma delta"), (12L, "NEW text"))
        .toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$dir/b1")
      q.processAllAvailable()
      val rows = spark.table("dedup_docs2").collect()
        .map(r => r.getLong(0)).toSet
      assert(rows == Set(1L, 2L, 3L, 12L),
        s"expected first-trigger keepers + the one new doc, got $rows")
    } finally q.stop()
  }

  test("bloom-routed standing dedup: standing dups dropped, in-stream dups keep-first") {
    import spark.implicits._
    val standing = Seq((1L, "alpha beta"), (2L, "gamma delta"))
      .toDF("doc_id", "text")
    val dir = tempDir("docs_standing")
    // trigger 1: a standing dup (alpha), a new doc, and its in-trigger twin
    Seq((100L, "ALPHA  beta"), (101L, "new one"), (102L, "new one"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/b0")
    val q = DedupStream.dedupWithStanding(spark,
        DedupStream.readDocs(spark, s"$dir/b*/", maxFilesPerTrigger = 1), standing)
      .writeStream.format("memory").queryName("standing_dedup")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      // trigger 2: a cross-trigger dup, another standing dup, one fresh
      Seq((103L, "new one"), (104L, "gamma  DELTA "), (105L, "fresh"))
        .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/b1")
      q.processAllAvailable()
      val kept = spark.table("standing_dedup").collect()
        .map(r => r.getLong(0)).toSet
      assert(kept == Set(101L, 105L),
        s"expected only the genuinely-new keepers, got $kept")
    } finally q.stop()
  }

  test("bloom-routed standing dedup equals batch dd07 + keep-first on the sf corpus") {
    // the dd11 parity story, streamed: standing = docs with id % 5 != 0,
    // the crawl delivers the rest; the result must equal the batch
    // anti-join + keep-first over the same split
    val docs = graft.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val standing = docs.filter(col("doc_id") % 5 =!= 0)
    val dir = tempDir("docs_standing_sf")
    docs.filter(col("doc_id") % 5 === 0)
      .coalesce(1).write.parquet(s"$dir/batch")
    val q = DedupStream.dedupWithStanding(spark,
        DedupStream.readDocs(spark, s"$dir/batch"), standing)
      .writeStream.format("memory").queryName("standing_dedup_sf")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("standing_dedup_sf").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val fp = md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
      val batch = docs.filter(col("doc_id") % 5 === 0).withColumn("fp", fp)
        .join(standing.select(fp.as("fp")).distinct(), Seq("fp"), "left_anti")
        .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
        .collect().map(r => (r.getLong(1), r.getString(0))).toSet
      assert(streamed == batch, "streamed standing dedup diverged from batch")
    } finally q.stop()
  }

  test("bloom sizing derives from the standing corpus and rejects covering lies") {
    // derive: the actual cardinality, never a fixed default
    assert(DedupStream.bloomItems(7654321L, None) == 7654321L)
    assert(DedupStream.bloomItems(0L, None) == 1L) // empty corpus still builds
    // a covering estimate passes through
    assert(DedupStream.bloomItems(1000L, Some(5000L)) == 5000L)
    // an under-estimate must fail LOUDLY, not silently saturate
    val e = intercept[IllegalArgumentException] {
      DedupStream.bloomItems(1000000L, Some(1000L))
    }
    assert(e.getMessage.contains("saturate"))
  }

  test("derived sizing keeps the maybe-seen sliver at ~fpp on a corpus far above the old default") {
    import spark.implicits._
    // a standing corpus much larger than any plausible fixed default
    // for this test tier: 60k distinct fps; with derived sizing the
    // bloom is built AT that capacity, so a disjoint batch routes
    // map-side (definitely-new) except ~fpp false positives. An
    // undersized bloom (the old fixed-default failure mode) saturates
    // and sends nearly everything into the confirm join.
    val standing = spark.range(60000).select(md5(concat(lit("s"), col("id"))).as("fp"))
    val batch = spark.range(5000).select(md5(concat(lit("b"), col("id"))).as("fp"))
    val sized = graft.functions.Bloom.build(standing, col("fp"),
      DedupStream.bloomItems(60000L, None), 0.01)
    val maybeSeen = batch.filter(
      graft.functions.Bloom.mightContain(sized, col("fp"))).count()
    assert(maybeSeen <= 250, // 5% guard band over the 1% design fpp
      s"derived-size bloom routed $maybeSeen/5000 disjoint docs to the confirm join")
    val undersized = graft.functions.Bloom.build(standing, col("fp"), 500L, 0.01)
    val saturated = batch.filter(
      graft.functions.Bloom.mightContain(undersized, col("fp"))).count()
    assert(saturated > 4000,
      s"expected the undersized bloom to saturate, got $saturated/5000")
  }

  test("out-of-order arrival: first trigger wins even over a LOWER doc_id") {
    import spark.implicits._
    // The documented divergence from batch: streaming keep-first equals
    // batch keep-first only under the monotone-source assumption. Here a
    // later trigger delivers a LOWER doc_id for an already-seen
    // fingerprint — the streaming answer is the FIRST-TRIGGER keeper
    // (10), where batch over the union would keep min doc_id (1). This
    // pins the divergence explicitly instead of leaving it implicit.
    val dir = tempDir("docs_stream3")
    Seq((10L, "alpha beta"), (20L, "gamma delta"))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$dir/b0")
    val q = DedupStream.dedupKeepFirst(spark,
        DedupStream.readDocs(spark, s"$dir/b*/", maxFilesPerTrigger = 1))
      .writeStream.format("memory").queryName("dedup_docs3")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      Seq((1L, "alpha beta")) // lower id, same fingerprint, later trigger
        .toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$dir/b1")
      q.processAllAvailable()
      val keepers = spark.table("dedup_docs3").collect()
        .map(r => r.getLong(0)).toSet
      assert(keepers == Set(10L, 20L),
        s"first-trigger-wins violated: $keepers")
      // and the batch answer over the same union is DIFFERENT — the
      // monotone-source assumption is load-bearing, not decorative
      val batchMin = Seq((10L, "alpha beta"), (20L, "gamma delta"), (1L, "alpha beta"))
        .toDF("doc_id", "text")
        .groupBy(md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))))
        .agg(min(col("doc_id")).as("doc_id"))
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(batchMin == Set(1L, 20L))
    } finally q.stop()
  }
}
