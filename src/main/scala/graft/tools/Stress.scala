package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-headroom probe: replicate the fact tables N× in-plan (union of
  * shifted copies — no disk writes) and run the headline join/agg/window
  * queries, printing per-query times. Demonstrates that plans hold when
  * the data grows beyond the provided scale factors.
  *
  * Usage: graft.tools.Stress [sfDir] [factor]
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 10
    val spark = graft.GraftSession()

    def amplify(df: DataFrame, keyCols: Seq[String], shift: Long): DataFrame =
      (0 until factor).map { i =>
        keyCols.foldLeft(df)((d, k) => d.withColumn(k, col(k) + i * shift))
      }.reduce(_.union(_))

    val li = amplify(spark.read.parquet(s"$sfDir/lineitem.parquet"),
      Seq("l_orderkey"), 10000000L)
    val o = amplify(spark.read.parquet(s"$sfDir/orders.parquet"),
      Seq("o_orderkey"), 10000000L)
    val c = spark.read.parquet(s"$sfDir/customer.parquet")
    li.createOrReplaceTempView("lineitem")
    o.createOrReplaceTempView("orders")
    c.createOrReplaceTempView("customer")

    println(s"[stress] lineitem rows: ${li.count()} (${factor}x)")
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[stress] $name: ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$n")
    }
    time("q01-shape scan+agg") {
      spark.sql("""SELECT l_returnflag, l_linestatus, count(*) n,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) s
        FROM lineitem GROUP BY 1,2""").count()
    }
    time("fact-fact join+agg") {
      spark.sql("""SELECT o_orderstatus, count(*) n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1""").count()
    }
    time("window top-3 per order") {
      spark.sql("""SELECT * FROM (
        SELECT l_orderkey, l_partkey,
          ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC) rn
        FROM lineitem) WHERE rn <= 3""").count()
    }

    // LLM-pipeline shapes at amplified scale: the round-2 hot paths.
    val docs = amplify(spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")), Seq("doc_id"), 10000000L)
    time("minhash signatures + band hashes") {
      docs
        .withColumn("sh", graft.functions.MinHash.shingleHashes(split(col("text"), " "), 3))
        .withColumn("sig", graft.functions.MinHash.minhashSig(col("sh")))
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), lit(31)),
            j => xxhash64(concat_ws(",", slice(col("sig"), j * 2 + 1, lit(2))), j))))
        .count()
    }
    val emb = amplify(spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")), Seq("vec_id"), 10000000L)
    val centroids = graft.ops.KMeans.fit(
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", k = 20, iters = 1)
    time("ivf map-only cell assignment") {
      emb.select(col("vec_id"),
          explode(graft.ops.KMeans.nearestCells(col("embedding"), centroids, 1)).as("cell"))
        .select(col("vec_id"), col("cell.c_id"))
        .count()
    }
    // decontamination at amplified corpus scale: the benchmark side
    // stays FIXED (eval sets don't grow with the corpus) while the
    // corpus side amplifies — broadcast semi-join + one agg shuffle
    time("decontamination 5-gram sweep") {
      val g5 = graft.ops.TextAnalysis.wordGrams(split(lower(col("text")), " "), 5)
      val bench = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") % 20 === 0)
        .select(explode_outer(g5).as("g")).distinct()
      docs.withColumn("g", g5)
        .select(col("doc_id"), explode_outer(col("g")).as("g"))
        .join(broadcast(bench), "g")
        .groupBy(col("doc_id")).agg(countDistinct(col("g")).as("n"))
        .count()
    }
    // pairs→clusters at amplified scale: a synthetic graph of 1M nodes
    // in 100k chains of length 10 — diameter 9 forces the label loop
    // through real pointer-jumping rounds (a star graph would converge
    // in one). State per round is the 1M-row (node,label) table.
    time("connected components: 1M nodes, 100k chains") {
      val edges = spark.range(1000000L).toDF("a")
        .filter(col("a") % 10 =!= 9)
        .select(col("a"), (col("a") + 1).as("b"))
      graft.ops.Dedup.connectedComponents(edges)
        .groupBy(col("cluster_rep")).count().count()
    }
    // LM scoring at amplified scale: LM table aggregates once on
    // (w1, w2); the score join keys on the pair — no broadcast assumed
    time("bigram LM train + score") {
      val pairs = docs
        .withColumn("t", split(lower(col("text")), " "))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"),
          explode_outer(graft.ops.TextAnalysis.wordGrams(col("t"), 2)).as("g"))
        .select(col("doc_id"), split(col("g"), " ").getItem(0).as("w1"),
          split(col("g"), " ").getItem(1).as("w2"))
      val big = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val uni = big.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
      val lm = big.join(uni, "w1")
        .select(col("w1"), col("w2"),
          (col("c12").cast("double") / col("c1")).as("p"))
      pairs.join(lm, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(avg(log2(col("p"))).as("s"))
        .count()
    }
    spark.stop()
  }
}
