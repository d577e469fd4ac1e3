package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The cross-session index persistence contract (IndexStore):
  *
  *   - with `spark.graft.index.dir` set, the FIRST session builds each
  *     expensive intermediate (LSH pairs, cluster map, span table, PQ
  *     codebooks, IVF postings, standing bloom) and writes it under the
  *     root; a SECOND session answers the same queries by LOADING, not
  *     rebuilding — the 100 TB materialize-once story across JVMs;
  *   - a persisted index built from a different version of the corpus
  *     fails LOUDLY on load (stale fingerprint), unless
  *     `spark.graft.index.ifStale=rebuild`;
  *   - with no root configured (the driver's Verify/Bench shape),
  *     everything behaves as the session-memoized persist it always was.
  */
class IndexStoreSpec extends SparkSpec {

  private def managed(root: String): SparkSession = {
    val s = SparkSpec.session.newSession()
    s.conf.set(IndexStore.RootKey, root)
    s
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col).toIndexedSeq: _*)
      .collect().map(_.toString).toSeq

  test("a second session answers dd08/dd12/ss03/ss09/dd11 by loading " +
    "the persisted indexes, bit-identically, without rebuilding") {
    val root = tempDir("graft_idxroot").toString
    val names = Seq("lsh_pairs", "cluster_map", "span_table",
      "pq_codebooks", "ivf8", "standing_bloom")
    def runAll(s: SparkSession): Map[String, Seq[String]] = Map(
      "dd08" -> sortedRows(ops.Dedup.queries("dd08_cc_clusters")(s, sf)),
      "dd12" -> sortedRows(ops.Dedup.queries("dd12_exact_substring")(s, sf)),
      "ss03" -> sortedRows(ops.Similarity.queries("ss03_ivf_topk")(s, sf)),
      "ss09" -> sortedRows(ops.Similarity.queries("ss09_pq_topk")(s, sf)),
      "dd11" -> sortedRows(
        ops.Dedup.queries("dd11_incremental_dedup_bloom")(s, sf)))

    IndexStore.lastAction.clear()
    val first = runAll(managed(root))
    for (n <- names)
      assert(IndexStore.lastAction.get((sf, n)).contains("built"),
        s"$n should have been BUILT by the first session: " +
          IndexStore.lastAction.toMap)
    assert(first.values.forall(_.nonEmpty))

    IndexStore.lastAction.clear()
    val s2 = managed(root)
    val second = runAll(s2)
    // lsh_pairs is legitimately ABSENT here: dd08 loads the persisted
    // cluster map, so the pair table it was derived from is never even
    // resolved — the downstream index shields its upstream build.
    for (n <- names.filterNot(_ == "lsh_pairs"))
      assert(IndexStore.lastAction.get((sf, n)).contains("loaded"),
        s"$n should have been LOADED by the second session: " +
          IndexStore.lastAction.toMap)
    assert(IndexStore.lastAction.values.forall(_ == "loaded"),
      s"the second session must build NOTHING: ${IndexStore.lastAction.toMap}")
    assert(second == first)

    // the reload is visible in the plan, not just the bookkeeping: the
    // second session's cluster map is a parquet scan of the store path
    val plan = ops.Dedup.queries("dd08_cc_clusters")(s2, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains(root),
      s"expected a scan of the persisted index under $root in:\n$plan")
  }

  test("a second session answers gr01/gr03 by loading the persisted " +
    "trade-edge graph (multi-table fingerprint)") {
    val root = tempDir("graft_idxroot3").toString
    def runBoth(s: SparkSession): Map[String, Seq[String]] = Map(
      "gr01" -> sortedRows(ops.Graph.queries("gr01_pagerank")(s, sf)),
      "gr03" -> sortedRows(ops.Graph.queries("gr03_bfs_hops")(s, sf)))

    IndexStore.lastAction.clear()
    val first = runBoth(managed(root))
    assert(IndexStore.lastAction.get((sf, "trade_edges")).contains("built"),
      s"trade_edges should have been BUILT: ${IndexStore.lastAction.toMap}")
    assert(first.values.forall(_.nonEmpty))

    IndexStore.lastAction.clear()
    val second = runBoth(managed(root))
    assert(IndexStore.lastAction.get((sf, "trade_edges")).contains("loaded"),
      s"trade_edges should have been LOADED: ${IndexStore.lastAction.toMap}")
    assert(second == first)

    // the multi-table fingerprint is the join of each source's — a
    // change in EITHER orders or lineitem must flip it
    val s = SparkSpec.session.newSession()
    val joint = Seq("orders", "lineitem")
      .map(t => IndexStore.fingerprint(s, sf, t)).mkString("|")
    val meta = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      .iterator().next().resolve("trade_edges").resolve("_GRAFT_META")
    val props = new java.util.Properties()
    val in = java.nio.file.Files.newInputStream(meta)
    try props.load(in) finally in.close()
    assert(props.getProperty("fingerprint") == joint)
  }

  test("a second session answers bk02 by loading the persisted z-order layout") {
    val root = tempDir("graft_idxroot4").toString
    IndexStore.lastAction.clear()
    val first = sortedRows(ops.Bucketing.queries("bk02_zorder_prune")(managed(root), sf))
    assert(IndexStore.lastAction.get((sf, "zorder_lineitem")).contains("built"))
    assert(first.nonEmpty)
    IndexStore.lastAction.clear()
    val second = sortedRows(ops.Bucketing.queries("bk02_zorder_prune")(managed(root), sf))
    assert(IndexStore.lastAction.get((sf, "zorder_lineitem")).contains("loaded"),
      s"z-layout should load, not rebuild: ${IndexStore.lastAction.toMap}")
    assert(second == first)
  }

  test("a stale index (mutated corpus) fails loudly on load; " +
    "ifStale=rebuild rebuilds in place") {
    val root = tempDir("graft_idxroot2").toString
    val corpus = tempDir("graft_corpus").toString
    val base = SparkSpec.session.read.parquet(sf + "/documents.parquet")
    base.write.mode("overwrite").parquet(corpus + "/documents.parquet")

    val spans1 = sortedRows(
      ops.Dedup.queries("dd12_exact_substring")(managed(root), corpus))
    assert(IndexStore.lastAction.get((corpus, "span_table")).contains("built"))
    assert(spans1.nonEmpty)

    // mutate the corpus under the index: append one duplicated doc
    base.limit(1)
      .withColumn("doc_id", lit(999983L).cast(base.schema("doc_id").dataType))
      .write.mode("append").parquet(corpus + "/documents.parquet")

    val e = intercept[IllegalStateException] {
      ops.Dedup.queries("dd12_exact_substring")(managed(root), corpus).count()
    }
    assert(e.getMessage.contains("STALE") &&
      e.getMessage.contains("span_table"))

    val s3 = managed(root)
    s3.conf.set(IndexStore.IfStaleKey, "rebuild")
    val spans3 = sortedRows(
      ops.Dedup.queries("dd12_exact_substring")(s3, corpus))
    assert(IndexStore.lastAction.get((corpus, "span_table")).contains("rebuilt"))
    // the appended doc is a full copy of an existing one: every gram in
    // it is now duplicated, so the rebuilt span table must differ
    assert(spans3 != spans1)
  }

  test("the fingerprint sees appends, deletes, re-ids, and in-place " +
    "content edits of sampled rows") {
    val corpus = tempDir("graft_corpus2").toString
    val base = SparkSpec.session.read.parquet(sf + "/documents.parquet")
    base.write.mode("overwrite").parquet(corpus + "/documents.parquet")

    def fpOf(mutate: DataFrame => DataFrame): String = {
      val d = tempDir("graft_corpus_m").toString
      mutate(base).write.mode("overwrite").parquet(d + "/documents.parquet")
      IndexStore.fingerprint(SparkSpec.session.newSession(), d, "documents")
    }
    val orig = fpOf(identity)
    // fail-loudly bias (round-9 verdict): the fingerprint folds in the
    // file-level footprint, so even a bit-identical REWRITE reads as a
    // new corpus — rebuilding an index for an unchanged-but-rewritten
    // corpus is cheap; serving a stale one for a changed-but-
    // fingerprint-colliding corpus is not
    assert(fpOf(identity) != orig, "a rewrite must flip the footprint")
    assert(fpOf(_.filter(col("doc_id") =!= 0)) != orig, "delete")
    assert(fpOf(df => df.union(df.limit(1)
      .withColumn("doc_id",
        lit(9999L).cast(df.schema("doc_id").dataType)))) != orig, "append")
    // content edit of a sampled row (doc_id 101 is in the 1% sample)
    assert(fpOf(df => df.withColumn("text",
      when(col("doc_id") === 101, lit("edited")).otherwise(col("text")))
    ) != orig, "in-place edit of a sampled row")
    // the hash covers EVERY column, not a designated content column:
    // an index may read any of them (trade graph: o_custkey; z-layout:
    // l_suppkey/l_quantity), so an edit to a "side" column must flip
    // the fingerprint too
    assert(fpOf(df => df.withColumn("lang",
      when(col("doc_id") === 101, lit("xx")).otherwise(col("lang")))
    ) != orig, "in-place edit of a non-text column of a sampled row")
  }

  test("an in-place edit of a NON-sampled row (invisible to the content " +
    "scan) still flips freshness and fails the load loudly") {
    val root = tempDir("graft_idxroot5").toString
    val corpus = tempDir("graft_corpus5").toString
    val base = SparkSpec.session.read.parquet(sf + "/documents.parquet")
    base.write.mode("overwrite").parquet(corpus + "/documents.parquet")

    val first = sortedRows(
      ops.Dedup.queries("dd12_exact_substring")(managed(root), corpus))
    assert(IndexStore.lastAction.get((corpus, "span_table")).contains("built"))
    assert(first.nonEmpty)

    // doc_id 102 has 102 % 101 == 1: outside the 1% hash sample. Edit
    // its text in place — row count and max(doc_id) unchanged, sampled
    // xor unchanged — the round-9 hole the file footprint closes.
    base.withColumn("text",
        when(col("doc_id") === 102, lit("edited in place"))
          .otherwise(col("text")))
      .write.mode("overwrite").parquet(corpus + "/documents.parquet")

    val e = intercept[IllegalStateException] {
      ops.Dedup.queries("dd12_exact_substring")(managed(root), corpus).count()
    }
    assert(e.getMessage.contains("STALE"), e.getMessage)
  }

  test("a corpus mutated in the SAME session is re-fingerprinted on the " +
    "next resolve — never served against the first-touch fingerprint") {
    val root = tempDir("graft_idxroot6").toString
    val corpus = tempDir("graft_corpus6").toString
    val base = SparkSpec.session.read.parquet(sf + "/documents.parquet")
    base.write.mode("overwrite").parquet(corpus + "/documents.parquet")

    val s = managed(root)
    // build an index THROUGH the store in this session
    val built = IndexStore.dataFrame(s, corpus, "spec_idx", "documents") {
      s.read.parquet(corpus + "/documents.parquet")
        .groupBy(col("lang")).count()
    }
    assert(built.count() > 0)
    assert(IndexStore.lastAction.get((corpus, "spec_idx")).contains("built"))

    // mutate the corpus in the SAME session
    base.limit(1)
      .withColumn("doc_id", lit(999983L).cast(base.schema("doc_id").dataType))
      .write.mode("append").parquet(corpus + "/documents.parquet")

    // the next resolve must SEE the mutation (per-resolve footprint
    // check), not serve "loaded" off the session-cached fingerprint
    val e = intercept[IllegalStateException] {
      IndexStore.dataFrame(s, corpus, "spec_idx", "documents") {
        s.read.parquet(corpus + "/documents.parquet")
          .groupBy(col("lang")).count()
      }.count()
    }
    assert(e.getMessage.contains("STALE"), e.getMessage)
  }

  test("two concurrent builders on one index: the second fails loudly " +
    "on the build lock; commit releases it") {
    val root = tempDir("graft_idxroot7").toString
    val corpus = tempDir("graft_corpus7").toString
    SparkSpec.session.read.parquet(sf + "/documents.parquet")
      .write.mode("overwrite").parquet(corpus + "/documents.parquet")

    val s1 = managed(root)
    val r1 = IndexStore.resolve(s1, corpus, "lock_idx", "documents")
    val b1 = r1 match {
      case b: IndexStore.Build => b
      case other => fail(s"first builder expected Build, got $other")
    }

    // a second builder (same root, separate session) must be refused
    // while the first holds the lock
    val s2 = managed(root)
    val e = intercept[IllegalStateException] {
      IndexStore.resolve(s2, corpus, "lock_idx", "documents")
    }
    assert(e.getMessage.contains("BUILT by another"), e.getMessage)

    // first builder finishes: writes data, commits (which releases the
    // lock and publishes meta atomically) — the second session now LOADS
    s1.read.parquet(corpus + "/documents.parquet").groupBy(col("lang"))
      .count().write.mode("overwrite")
      .parquet(IndexStore.dataPath(b1.base))
    b1.commit()
    IndexStore.resolve(s2, corpus, "lock_idx", "documents") match {
      case IndexStore.Fresh(_) => // loaded, as required
      case other => fail(s"after commit the index must load, got $other")
    }

    // and a FAILED build releases the lock too (abortBuild via the
    // dataFrame wrapper), so the next builder is not locked out forever
    intercept[RuntimeException] {
      IndexStore.dataFrame(s2, corpus, "lock_idx3", "documents") {
        throw new RuntimeException("simulated build failure")
      }
    }
    // lock_idx3's lock must be gone: a fresh resolve yields Build again
    assert(IndexStore.resolve(s2, corpus, "lock_idx3", "documents")
      .isInstanceOf[IndexStore.Build])
  }

  test("a dead builder's lock is reclaimed past the staleness threshold; " +
      "a live heartbeating builder still excludes") {
    val root = tempDir("graft_idxroot8").toString
    val corpus = tempDir("graft_corpus8").toString
    SparkSpec.session.read.parquet(sf + "/documents.parquet")
      .write.mode("overwrite").parquet(corpus + "/documents.parquet")
    val s1 = managed(root)
    s1.conf.set(IndexStore.LockStaleMsKey, "400")

    // simulate a builder that crashed between lock create and its try
    // wrapper: a lock file with an ancient mtime and no process behind
    // it (acquire normally, release, then plant the dead lock by hand)
    val b0 = IndexStore.resolve(s1, corpus, "lock_dead", "documents") match {
      case b: IndexStore.Build => b
      case other => fail(s"expected Build, got $other")
    }
    IndexStore.abortBuild(s1, b0.base)
    val lock = java.nio.file.Paths.get(
      b0.base.stripPrefix("file:"), "_GRAFT_BUILD_LOCK")
    java.nio.file.Files.writeString(lock, "pid=dead ts=0\n")
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 10000))

    // age 10s > threshold 400ms: the next builder reclaims it
    val b1 = IndexStore.resolve(s1, corpus, "lock_dead", "documents") match {
      case b: IndexStore.Build => b
      case other => fail(s"expected takeover to yield Build, got $other")
    }

    // the reclaimed lock is LIVE now (heartbeat at threshold/4): a
    // peer refuses even after sleeping past the threshold — age-based
    // takeover must never evict a healthy builder
    Thread.sleep(600)
    val s2 = managed(root)
    s2.conf.set(IndexStore.LockStaleMsKey, "400")
    val e = intercept[IllegalStateException] {
      IndexStore.resolve(s2, corpus, "lock_dead", "documents")
    }
    assert(e.getMessage.contains("BUILT by another"), e.getMessage)
    IndexStore.abortBuild(s1, b1.base)
  }

  test("a build whose lock was taken over mid-build refuses to publish " +
      "(ownership token guard)") {
    val root = tempDir("graft_idxroot9").toString
    val corpus = tempDir("graft_corpus9").toString
    SparkSpec.session.read.parquet(sf + "/documents.parquet")
      .write.mode("overwrite").parquet(corpus + "/documents.parquet")
    val s1 = managed(root)
    val b = IndexStore.resolve(s1, corpus, "lock_theft", "documents") match {
      case x: IndexStore.Build => x
      case other => fail(s"expected Build, got $other")
    }
    // simulate a takeover: a peer replaces the lock with ITS token —
    // through the Hadoop FS (as a real peer's create would), so the
    // checksum sidecar stays consistent with the new content
    val hp = new org.apache.hadoop.fs.Path(b.base, "_GRAFT_BUILD_LOCK")
    val hf = hp.getFileSystem(
      SparkSpec.session.sparkContext.hadoopConfiguration)
    val out = hf.create(hp, true)
    try out.write("pid=peer token=stolen\n".getBytes("UTF-8"))
    finally out.close()
    s1.read.parquet(corpus + "/documents.parquet").groupBy(col("lang"))
      .count().write.mode("overwrite")
      .parquet(IndexStore.dataPath(b.base))
    val e = intercept[IllegalStateException] { b.commit() }
    assert(e.getMessage.contains("lost its lock"), e.getMessage)
    // un-wedge for other tests
    IndexStore.abortBuild(s1, b.base)
  }
}
