package graft

/** Degenerate-input gate: EVERY registered query must run (not throw)
  * against an empty-but-schema'd corpus — the "empty partition day" a
  * 100 TB pipeline hits whenever a source goes quiet. Before this gate
  * six operators crashed on empty input (null bloom buffers, zero-seed
  * k-means building a malformed zero-arm array_min, a null-maxima
  * z-layout); each now degrades to an empty result of the right shape.
  * Index-building ops return empty assignments/search results rather
  * than erroring: empty-in → empty-out composes in a pipeline where a
  * loud failure on a quiet day does not. */
class EmptyCorpusSpec extends SparkSpec {

  private def rmTree(p: String): Unit = {
    val root = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(root))
      java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
  }

  private def sweep(n: Int): Unit = {
    val d = tempDir(s"graft_deg$n").toString
    try {
      Tables.all.foreach { t =>
        spark.read.parquet(s"$sf/$t.parquet").limit(n)
          .coalesce(1).write.mode("overwrite").parquet(s"$d/$t.parquet")
      }
      val failed = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          try { fn(spark, d).collect(); None }
          catch {
            case e: Throwable => Some(name -> (e.getClass.getSimpleName + ": " +
              Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString))
          }
      }
      assert(failed.isEmpty,
        s"${failed.length} queries crash on a $n-row corpus:\n" +
          failed.map { case (nm, m) => s"  $nm -> $m" }.mkString("\n"))
    } finally {
      // drain in-flight async work (AQE broadcast-stage futures from
      // the last queries) before deleting their input files — deleting
      // under a live job logs spurious executor FAILED_READ_FILE
      // errors that bury real signal in CI output
      val tracker = spark.sparkContext.statusTracker
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (tracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(100)
      // an AQE broadcast future that hasn't SUBMITTED its job yet can
      // slip past the active-job poll and still race the delete; a short
      // fixed grace after the queue empties closes that window
      // (best-effort CI-noise mitigation, not correctness)
      Thread.sleep(500)
      // the sweep corpus is per-run; so is the z-layout the Bucketing
      // queries derive for it (deterministic per-corpus temp path) —
      // delete both, or every CI run leaks corpus-sized directories
      rmTree(d)
      rmTree(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_zorder_${java.lang.Integer.toHexString(d.hashCode)}").toString)
    }
  }

  test("every registered query runs on an empty corpus") { sweep(0) }

  // n = 1 is the sharpest statistical edge: zero variance (ev12's sd,
  // q31's x-variance — both now report null via nullif instead of an
  // ANSI divide-by-zero abort), single-element windows, self-pair-free
  // dedup. Found two real crashes on first run.
  test("every registered query runs on a single-row corpus") { sweep(1) }
}
