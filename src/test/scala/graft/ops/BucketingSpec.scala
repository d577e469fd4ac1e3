package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** A join of two tables bucketed on the join key must plan with ZERO
  * shuffle exchanges below the join (bucket-co-located), and return
  * exactly the same rows as the plain shuffled join. Driven through the
  * registered bk01 query so the pinned plan is the one the driver
  * gates. */
class BucketingSpec extends SparkSpec {

  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
    case _ => p +: p.children.flatMap(walk)
  }

  test("bk01: bucketed fact-fact join has no shuffle below the join, exact rows") {
    // disable auto-broadcast so the test exercises the co-located
    // sort-merge path (at real scale neither fact side broadcasts)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Bucketing.queries("bk01_bucketed_cojoin")(spark, sf)
      val smj = walk(df.queryExecution.executedPlan)
        .collectFirst { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty,
        s"expected a sort-merge cojoin:\n${df.queryExecution.executedPlan}")
      // the bucketed layout means the join's entire subtree is
      // exchange-free — the only shuffle in the query is the final
      // aggregate ABOVE the join
      val below = walk(smj.get).collect { case s: ShuffleExchangeExec => s }
      assert(below.isEmpty,
        s"bucketed join still shuffles below the join:\n${smj.get}")

      // exact rows vs the plain (unbucketed) join aggregate
      val orders = graft.Tables.load(spark, sf, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      val lineitem = graft.Tables.load(spark, sf, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      val plain = orders.join(lineitem, "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          graft.functions.Num.dsum(col("l_quantity")).as("sum_qty"))
      assert(df.exceptAll(plain).isEmpty && plain.exceptAll(df).isEmpty,
        "bucketed cojoin aggregate differs from the plain join")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("z_value interleave: bit positions, ordering on the grid, loud negatives") {
    import graft.functions.ZOrderUtil.interleave
    assert(interleave(3L, 1L, 31) == 7L) // a→bits 0,2; b→bit 1
    assert(interleave(0L, 3L, 31) == 10L) // b→bits 1,3
    // round trip: de-interleave recovers both coordinates
    for (a <- 0L to 20L; b <- 0L to 20L) {
      val z = interleave(a, b, 31)
      var (ra, rb) = (0L, 0L)
      for (i <- 0 until 31) {
        ra |= ((z >>> (2 * i)) & 1L) << i
        rb |= ((z >>> (2 * i + 1)) & 1L) << i
      }
      assert(ra == a && rb == b, s"round trip failed at ($a, $b)")
    }
    intercept[IllegalArgumentException](interleave(-1L, 0L, 31))
    // inputs >= 2^bits would silently drop high bits, colliding two
    // distinct keys onto one z-value — rejected as loudly as negatives
    intercept[IllegalArgumentException](interleave(1L << 31, 0L, 31))
    intercept[IllegalArgumentException](interleave(0L, Long.MaxValue, 31))
    intercept[IllegalArgumentException](interleave(4L, 0L, 2))
    assert(interleave((1L << 31) - 1, 0L, 31) >= 0L) // max valid input
  }

  test("rangeCells covers every cell a box row can land in") {
    import graft.functions.ZOrderUtil.{interleave, rangeCells}
    val (wa, wb) = (7L, 13L)
    val cells = rangeCells(100L / wa, 300L / wa, 50L / wb, 90L / wb, 31).toSet
    for (a <- 100L to 300L by 11L; b <- 50L to 90L by 7L)
      assert(cells(interleave(a / wa, b / wb, 31)),
        s"cell of ($a, $b) missing from the enumeration")
  }

  test("bk02: the z-layout prunes partitions and answers the box exactly") {
    val df = Bucketing.queries("bk02_zorder_prune")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("zcell"),
      s"no z-cell partition pruning in plan:\n$plan")
    // exact rows vs the plain box query on the original table
    val li = graft.Tables.load(spark, sf, "lineitem")
    val m = li.agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
    val (ma, mb) = (m.getLong(0), m.getLong(1))
    val plain = li
      .filter(col("l_partkey").between(ma / 8, ma / 4) &&
        col("l_suppkey").between(mb / 8, mb / 4))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
    assert(df.exceptAll(plain).isEmpty && plain.exceptAll(df).isEmpty,
      "z-ordered box query differs from the plain scan")
    // the executed scan reads FEWER files than the layout holds
    def scannedFiles(d: org.apache.spark.sql.DataFrame): Long = {
      d.collect()
      d.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value }.getOrElse(-1L)
    }
    val Some((path, _, _, _, _)) = Bucketing.zorderLayout(spark, sf)
    val pruned = scannedFiles(Bucketing.queries("bk02_zorder_prune")(spark, sf))
    val all = scannedFiles(spark.read.parquet(path))
    assert(pruned > 0 && pruned < all,
      s"no pruning: scanned $pruned of $all files")
  }

  test("bk01 over an empty corpus is NOT cached: data arriving later is seen") {
    // a bucketed pair built while orders/lineitem were empty must not
    // freeze bk01 at empty for the rest of the session
    val dir = tempDir("graft_bk_late").toString
    val tables = Seq("orders", "lineitem")
    tables.foreach(t => spark.read.parquet(s"$sf/$t.parquet").limit(0)
      .write.mode("overwrite").parquet(s"$dir/$t.parquet"))
    assert(Bucketing.queries("bk01_bucketed_cojoin")(spark, dir).count() == 0)
    tables.foreach { t =>
      spark.read.parquet(s"$sf/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      // refreshByPath is the documented user step after an external
      // writer changes a path; what must NOT survive it is bk01's memo
      spark.catalog.refreshByPath(s"$dir/$t.parquet")
    }
    assert(Bucketing.queries("bk01_bucketed_cojoin")(spark, dir).count() > 0,
      "bk01 still empty after data arrived — empty bucketed pair was memoized")
  }
}
