package graft

import org.apache.spark.sql.functions._

/** Storage-layout scale disciplines, proven on real plans:
  *
  *  - BUCKETING: two tables bucketed+sorted on the join key join with
  *    ZERO exchanges — the co-located-join shape that turns the
  *    every-day fact-fact join at 100 TB from a cluster-wide shuffle
  *    into a per-bucket merge.
  *  - PARTITIONED WRITES: a corpus partitioned by a categorical column
  *    prunes non-matching partitions at planning time — the scan never
  *    touches the other partitions' files.
  */
class StorageLayoutSpec extends SparkSpec {

  test("bucketed+sorted tables join with zero shuffle exchanges") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    li.write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_bucketed")
    o.write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("o_bucketed")
    // force the shuffle-join path (broadcast would trivially avoid the
    // exchange) and freeze the plan (no AQE re-planning) to audit it
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val j = spark.table("li_bucketed").join(spark.table("o_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      val plain = li.join(o, col("l_orderkey") === col("o_orderkey")).count()
      assert(j.count() == plain)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("lang-partitioned corpus write prunes partitions at the scan") {
    val dir = tempDir("graft_part").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.write.mode("overwrite").partitionBy("lang").parquet(dir)
    val back = spark.read.parquet(dir).filter(col("lang") === "en")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"no partition pruning in plan:\n$plan")
    // pruned read returns exactly the en slice
    assert(back.count() == docs.filter(col("lang") === "en").count())
    // and the executed scan actually read FEWER files than the table
    // has: numFiles metric = 1 partition dir of 5 (inputFiles can't
    // show this — it lists the unpruned index)
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect() // execute THIS df's plan so its scan metrics populate
      df.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value }.getOrElse(-1L)
    }
    val prunedFiles = scannedFiles(spark.read.parquet(dir).filter(col("lang") === "en"))
    val allFiles = scannedFiles(spark.read.parquet(dir))
    assert(prunedFiles > 0 && prunedFiles < allFiles,
      s"no pruning: scanned $prunedFiles of $allFiles files")
  }
}
