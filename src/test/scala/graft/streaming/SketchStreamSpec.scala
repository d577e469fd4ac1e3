package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Stream/batch parity for the incremental count-min sketch: after
  * consuming the corpus (in multiple triggers), the streamed cells must
  * equal the single-pass batch CmsAggregate cell-for-cell — the
  * mergeability property that makes a CMS maintainable online at all.
  * The batch form is what ev16's DuckDB oracle replays, so parity here
  * transitively pins the streaming cells to the oracle too. */
class SketchStreamSpec extends SparkSpec {

  private val D = 4
  private val W = 1024

  private def batchCells = {
    val ev = graft.Tables.load(spark, sf, "events").select(col("user_id"))
    ev.agg(graft.functions.Cms.cmsSketch(col("user_id"), D, W).as("cells"))
      .select(posexplode(col("cells")))
      .collect()
      .map(r => ((r.getInt(0) / W) + 1, (r.getInt(0) % W).toLong) -> r.getLong(1))
      .filter(_._2 > 0).toMap
  }

  test("streamed CMS cells equal the batch aggregate after all triggers") {
    val dir = tempDir("events_cms")
    // two triggers: split the corpus so cross-trigger accumulation is
    // actually exercised (file 1 lands, then file 2)
    val ev = graft.Tables.load(spark, sf, "events")
    ev.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.parquet(dir.resolve("part1").toString)
    val q = SketchStream.cmsCells(spark,
        EventsStream.readEvents(spark, dir.toString + "/part1"))
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      ev.filter(col("event_id") % 2 =!= 0).coalesce(1)
        .write.mode("append").parquet(dir.resolve("part1").toString)
      q.processAllAvailable()
      // cells only grow: the latest emission per (seed, b) is the max
      val streamed = spark.table("cms_stream")
        .groupBy(col("seed"), col("b")).agg(max(col("n")).as("n"))
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed == batchCells,
        "streamed cells diverged from the batch CmsAggregate")
    } finally q.stop()
  }

  test("mid-stream cells equal the batch aggregate over the prefix seen so far") {
    val dir = tempDir("events_cms2")
    val ev = graft.Tables.load(spark, sf, "events")
    val firstHalf = ev.filter(col("event_id") % 2 === 0)
    firstHalf.coalesce(1).write.parquet(dir.resolve("drop").toString)
    val q = SketchStream.cmsCells(spark,
        EventsStream.readEvents(spark, dir.toString + "/drop"))
      .writeStream.format("memory").queryName("cms_stream_mid")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("cms_stream_mid")
        .groupBy(col("seed"), col("b")).agg(max(col("n")).as("n"))
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val prefixCells = firstHalf.select(col("user_id"))
        .agg(graft.functions.Cms.cmsSketch(col("user_id"), D, W).as("cells"))
        .select(posexplode(col("cells")))
        .collect()
        .map(r => ((r.getInt(0) / W) + 1, (r.getInt(0) % W).toLong) -> r.getLong(1))
        .filter(_._2 > 0).toMap
      assert(streamed == prefixCells,
        "mid-stream cells are not the batch sketch of the consumed prefix")
    } finally q.stop()
  }

  test("streamed histogram bins equal the batch aggregate after cross-trigger accumulation") {
    val dir = tempDir("li_hist")
    val li = graft.Tables.load(spark, sf, "lineitem")
      .select((col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").as("x"), col("l_orderkey"))
    li.filter(col("l_orderkey") % 2 === 0).select(col("x"))
      .coalesce(1).write.parquet(dir.resolve("drop").toString)
    import org.apache.spark.sql.types._
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("x", LongType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString + "/drop")
    val q = SketchStream.histBins(spark, stream)
      .writeStream.format("memory").queryName("hist_stream")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      li.filter(col("l_orderkey") % 2 =!= 0).select(col("x"))
        .coalesce(1).write.mode("append").parquet(dir.resolve("drop").toString)
      q.processAllAvailable()
      // bins only grow: latest emission per bin is the max
      val streamed = spark.table("hist_stream")
        .groupBy(col("b")).agg(max(col("n")).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val batch = li
        .agg(graft.functions.Hist.histSketch(col("x"), 0L, 16384L, 1024).as("bins"))
        .collect()(0).getSeq[Long](0).zipWithIndex
        .collect { case (n, b) if n > 0 => b -> n }.toMap
      assert(streamed == batch,
        "streamed bins diverged from the batch HistAggregate")
    } finally q.stop()
  }

  test("keyed HLL registers equal the per-month batch sketches — the q08e streaming feed") {
    val dir = tempDir("li_hllk")
    val li = graft.Tables.load(spark, sf, "lineitem")
      .select(date_format(trunc(col("l_shipdate"), "month"), "yyyy-MM").as("k"),
        concat_ws("_", col("l_partkey"), col("l_suppkey")).as("key"),
        col("l_orderkey"))
    li.filter(col("l_orderkey") % 2 === 0).select(col("k"), col("key"))
      .coalesce(1).write.parquet(dir.resolve("drop").toString)
    import org.apache.spark.sql.types._
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("k", StringType),
        StructField("key", StringType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString + "/drop")
    val q = SketchStream.hllRegistersByKey(spark, stream, p = 8)
      .writeStream.format("memory").queryName("hllk_stream")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      li.filter(col("l_orderkey") % 2 =!= 0).select(col("k"), col("key"))
        .coalesce(1).write.mode("append").parquet(dir.resolve("drop").toString)
      q.processAllAvailable()
      val streamed = spark.table("hllk_stream")
        .groupBy(col("k"), col("bucket")).agg(max(col("m")).as("m"))
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
      val batch = li.groupBy(col("k"))
        .agg(graft.functions.Hll.hllSketch(col("key"), 8).as("regs"))
        .collect().flatMap { r =>
          r.getSeq[Int](1).zipWithIndex.collect {
            case (v, b) if v > 0 => (r.getString(0), b) -> v
          }
        }.toMap
      assert(streamed == batch,
        "keyed streamed registers diverged from the per-month batch sketches")
    } finally q.stop()
  }

  test("streamed HLL registers equal the batch aggregate, and a replayed file changes nothing") {
    val dir = tempDir("docs_hll")
    val docs = graft.Tables.load(spark, sf, "documents")
      .select(col("doc_id").cast("string").as("key"))
    docs.coalesce(1).write.parquet(dir.resolve("drop").toString)
    import org.apache.spark.sql.types._
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("key", StringType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString + "/drop")
    val q = SketchStream.hllRegisters(spark, stream, p = 8)
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      def streamed = spark.table("hll_stream")
        .groupBy(col("bucket")).agg(max(col("m")).as("m"))
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      val batch = docs
        .agg(graft.functions.Hll.hllSketch(col("key"), 8).as("regs"))
        .collect()(0).getSeq[Int](0).zipWithIndex
        .collect { case (r, b) if r > 0 => b -> r }.toMap
      assert(streamed == batch,
        "streamed HLL registers diverged from the batch aggregate")
      // at-least-once safety: replaying the whole corpus is a no-op
      // because max-merge is idempotent
      docs.coalesce(1).write.mode("append").parquet(dir.resolve("drop").toString)
      q.processAllAvailable()
      assert(streamed == batch, "a replayed file drifted the registers")
    } finally q.stop()
  }

  test("streamed scatter cells equal the batch ScatterAggregate across " +
    "triggers (latest-seq emission per cell)") {
    import spark.implicits._
    val dim = 8
    val rnd = new scala.util.Random(11)
    // signed components so the non-monotone-cell path (the reason for
    // the seq column) is actually exercised
    val vecs = Seq.fill(300)(Array.fill(dim)(rnd.nextInt(101) - 50))
    val (first, second) = vecs.splitAt(150)
    val dir = tempDir("scatter_stream")
    first.map(Tuple1(_)).toDF("c").coalesce(1)
      .write.parquet(dir.resolve("in").toString)
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("c ARRAY<INT>"))
      .parquet(dir.resolve("in").toString)
    val q = SketchStream.scatterCells(spark, src, dim)
      .writeStream.format("memory").queryName("scatter_stream")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      second.map(Tuple1(_)).toDF("c").coalesce(1)
        .write.mode("append").parquet(dir.resolve("in").toString)
      q.processAllAvailable()
      val maxSeq = spark.table("scatter_stream")
        .agg(max(col("seq"))).head.getLong(0)
      val streamed = spark.table("scatter_stream")
        .filter(col("seq") === maxSeq)
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      val batch = vecs.map(Tuple1(_)).toDF("c")
        .agg(graft.functions.Scatter.scatterMatrix(col("c"), dim)).head
        .getSeq[scala.collection.Seq[Long]](0)
      val batchUpper = (for {
        i <- 0 until dim
        j <- i until dim
      } yield (i, j) -> batch(i)(j)).toMap
      assert(streamed == batchUpper,
        "streamed scatter cells diverged from the batch aggregate")
    } finally q.stop()
  }
}
