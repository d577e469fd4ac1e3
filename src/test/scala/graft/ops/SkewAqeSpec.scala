package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The engine-native complement to sk01's manual salting: AQE's runtime
  * skew-join split. A planted hot key makes one shuffle partition ~100×
  * the median; with skew-join thresholds scaled to test data, AQE must
  * re-plan the sort-merge join with the skewed partition split
  * (`skew=true` in the final adaptive plan) and still return exact
  * results. At 100 TB this is the default first line of defense —
  * salting (sk01) is the fallback for skew AQE can't see (broadcast
  * buildside skew, agg skew). */
class SkewAqeSpec extends SparkSpec {

  test("AQE splits a planted hot key at runtime (skew=true) with exact results") {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 100k rows on ONE key + 1k uniform rows: one partition dwarfs the
      // rest of the shuffle
      val facts = spark.range(0, 100000).select(lit(7L).as("k"), col("id").as("v"))
        .union(spark.range(0, 1000).select((col("id") % 50).as("k"), col("id").as("v")))
      val dim = spark.range(0, 50).select(col("id").as("k"),
        concat(lit("dim_"), col("id")).as("name"))
      val joined = facts.join(dim, "k")
      // collect() drives joined's OWN QueryExecution (count() would plan
      // a separate aggregate query and leave this one unexecuted)
      val rows = joined.collect()
      assert(rows.length == 101000, s"join row count wrong: ${rows.length}")
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$finalPlan")
      // exactness: per-key counts survive the split
      val hot = rows.count(_.getLong(0) == 7L)
      assert(hot == 100000 + 1000 / 50, s"hot-key row count wrong: $hot")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("sk02: registered query splits its planted hot key and matches the plain join") {
    import org.apache.spark.sql.functions._
    // the query builds its own child session with testdata-scaled skew
    // thresholds — no conf juggling here, which is the point
    val df = Skew.queries("sk02_aqe_skew_join")(spark, sf)
    val rows = df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("skew=true"),
      s"AQE did not split the planted hot key:\n$finalPlan")
    // exactness: same aggregate over the plain join on the parent
    // session with default confs
    val li = graft.Tables.load(spark, sf, "lineitem").select(
      when(col("l_linenumber") =!= 1, lit(7L))
        .otherwise(col("l_suppkey") % 50).as("k"),
      col("l_extendedprice"))
    val cust = graft.Tables.load(spark, sf, "customer")
      .filter(col("c_custkey") < 50)
      .select(col("c_custkey").as("k"), col("c_nationkey"))
    val expected = li.join(cust, "k")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_lines"),
        graft.functions.Num.dsum(col("l_extendedprice")).as("sum_price"))
      .collect()
    assert(rows.map(_.toString).sorted.sameElements(expected.map(_.toString).sorted),
      "sk02 differs from the plain join under default confs")
  }

  test("sk02: calls on one parent session share one configured child session") {
    val q = Skew.queries("sk02_aqe_skew_join")
    val a = q(spark, sf).sparkSession
    val b = q(spark, sf).sparkSession
    assert(a ne spark, "sk02 must not set its thresholds on the caller's session")
    assert(a eq b, "each sk02 call built a new child session")
    assert(a.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1")
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1")
    // the child's table loads are memoized like the parent's
    assert(graft.Tables.load(a, sf, "customer") eq graft.Tables.load(b, sf, "customer"))
  }
}
