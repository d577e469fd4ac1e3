package graft.functions

import graft.{GraftSql, SparkSpec}
import org.apache.spark.sql.functions._

/** The at-scale techniques: salting equivalence, bucketed co-located
  * joins (no shuffle), SQL facade. */
class ScaleTechniquesSpec extends SparkSpec {
  import spark.implicits._

  test("salted join returns exactly the rows of the plain join under heavy skew") {
    // hot key: 90% of big side is key 1
    val big = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong else 1L, i)).toDF("k", "v")
    val small = Seq((1L, "hot"), (20L, "cold"), (30L, "cold")).toDF("k", "name")
    val plain = big.join(small, Seq("k")).collect().map(_.toSeq).toSet
    val salted = graft.ops.Skew.saltedJoin(big, small, big("k") === small("k"),
        saltBy = col("v"), salts = 8)
      .select(big("k"), big("v"), small("name"))
      .collect().map(_.toSeq).toSet
    assert(salted == plain)
  }

  test("bucketed tables join without an exchange (co-located join)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet").limit(2000)
    val o = spark.read.parquet(s"$sf/orders.parquet")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bkt")
    o.withColumnRenamed("o_orderkey", "l_orderkey")
      .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("o_bkt")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bkt").join(spark.table("o_bkt"), "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle; plan:\n$plan")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("DSv2 parquet aggregate pushdown: filterless min/max/count reads footer stats") {
    // dedicated session: aggregate pushdown needs the v2 parquet source
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.useV1SourceList", "")
    s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    val df = s2.read.parquet(s"$sf/lineitem.parquet")
      .agg(count(lit(1)), min(col("l_partkey")), max(col("l_partkey")))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"),
      s"expected PushedAggregation in plan:\n$plan")
    // and the metadata answer equals the scan answer
    val viaScan = spark.read.parquet(s"$sf/lineitem.parquet")
      .agg(count(lit(1)), min(col("l_partkey")), max(col("l_partkey")))
    assert(df.collect()(0) == viaScan.collect()(0))
  }

  test("runtime bloom-filter join pruning activates on a selective fact-fact join") {
    // dedicated session: bloom injection needs the threshold lowered
    // below our test-data sizes and no broadcast shortcut
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    val li = s2.read.parquet(s"$sf/lineitem.parquet")
    val o = s2.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_totalprice") > 300000.0) // selective build side
    val joined = li.join(o, col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.optimizedPlan.toString
    assert(plan.contains("bloom_filter_agg") || plan.contains("BloomFilter"),
      s"expected a runtime bloom filter in the optimized plan:\n$plan")
    // and the filtered join result is unchanged vs the plain session
    val plain = spark.read.parquet(s"$sf/lineitem.parquet").join(
      spark.read.parquet(s"$sf/orders.parquet").filter(col("o_totalprice") > 300000.0),
      col("l_orderkey") === col("o_orderkey")).count()
    assert(joined.count() == plain)
  }

  test("SQL facade: full engine surface through spark.sql, including vec_dot") {
    val df = GraftSql.sql(spark, sf,
      """SELECT n_name, COUNT(*) AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin)
    assert(df.count() > 0)
    val v = GraftSql.sql(spark, sf,
      "SELECT vec_id, vec_dot(embedding, embedding) AS norm2 FROM embeddings LIMIT 5")
    assert(v.collect().forall(_.getDouble(1) > 0))
  }
}
