package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, expr, timestamp_micros}

/** Named access to the driver-generated testdata tables (TESTDATA.md).
  *
  * Scale notes (designed for ~100 TB on a real cluster, tested on local[32]):
  *   - `dim` wraps the small dimension tables (region/nation/supplier/part/
  *     customer at most SFs) in an explicit `broadcast()` hint so joins
  *     against the fact tables (lineitem/orders/events) never shuffle the
  *     big side. Catalyst would often do this by itself via
  *     `spark.sql.autoBroadcastJoinThreshold`, but at 100 TB the fact side
  *     must NEVER be the build side, so we pin it.
  *   - Reads are plain parquet scans: column pruning + predicate pushdown
  *     reach the scan (verify with .explain → PushedFilters/ReadSchema).
  */
object Tables {
  val factTables = Set("lineitem", "orders", "events")
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  // Re-reading a table re-lists files and re-reads parquet footers; with
  // ~40 registered queries that fixed cost dominates small-SF benchmarks
  // (and at scale, repeated file listing of a 100 TB table is real work).
  // Cache the analyzed DataFrame per (session, dir, table) — plan-level
  // reuse only, no data is pinned.
  // An empty table is not memoized: the probe is a limit-1 scan, paid
  // once per (session, dir, table) miss and only until data exists.
  private val dfCache =
    new SessionMemo[(String, String), DataFrame](keep = SessionMemo.nonEmpty)

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    dfCache.get(spark, (sfDir, name))(doLoad(spark, sfDir, name))

  private def doLoad(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      // The events parquet's ts physical type has drifted across testdata
      // generations: TIMESTAMP(NANOS) (read as epoch-nanos INT64 under
      // GraftSession's parquet setting) vs TIMESTAMP(MICROS) (read as
      // TIMESTAMP_NTZ when the parquet is not UTC-adjusted). Normalize
      // both to a session-tz TimestampType column so every downstream
      // query sees one schema.
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // nanos-as-long: integer division (a double division would lose
          // precision — 2024 epoch-nanos ≈ 1.7e18 > 2^53), then micros→ts.
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _: org.apache.spark.sql.types.TimestampNTZType =>
          // NTZ→TZ cast interprets the wall-clock in the session zone; the
          // session is pinned UTC everywhere (SparkSessions/Bench/Verify),
          // matching DuckDB's epoch_us() reading of the same naive column.
          raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw // already a plain TIMESTAMP
      }
    } else spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** Round-robin-spread a SCAN-STARVED DataFrame (round 16). Parquet
    * row groups are the unit of scan parallelism, and the testdata
    * tables are single-row-group files — so every scan stage decodes on
    * ONE core while the rest idle, and any per-row work fused into the
    * scan stage (gram explode + md5, decimal casts, sketch updates)
    * serializes with it. This is guide §2.5's "one huge unsplittable
    * file" input-skew case: repartition immediately after the read.
    *
    * The spread is CONDITIONAL on measured starvation, not a constant:
    * when the scan already has at least half the session's parallelism
    * in input partitions (at 100 TB: thousands of row groups), the
    * DataFrame is returned unchanged and NO shuffle is added — so the
    * local fix cannot regress the scaled-out plan. Callers own the
    * order-independence of what sits above (aggregations are; anything
    * position- or partition-sensitive must not use this). */
  def spread(df: DataFrame): DataFrame = {
    val parts = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 <= parts) df.repartition(parts) else df
  }

  /** Lazy localCheckpoint PLANNED WITH AQE OFF (round 17, extracted
    * from Hll.pairUnions). Under AQE, Dataset.localCheckpoint(
    * eager=false) is lazy in name only — its toRdd call runs
    * AdaptiveSparkPlanExec's stage loop, so the whole upstream subtree
    * executes at DataFrame CONSTRUCTION time, serially, before the
    * consuming query's own stages can start. Planned statically the
    * RDD really is lazy: the subtree runs inside the first consuming
    * job (overlapping the consumer's other subtrees) and its blocks
    * are reused by every later reference, freed by the ContextCleaner
    * when the plan is GC'd. Use ONLY for subtrees AQE cannot improve
    * (no joins to re-strategize — scan → agg → exchange chains);
    * plans that need AQE runtime broadcasts (the graph in-step joins)
    * must keep Lineage.truncate. The conf flip is planning-scoped
    * (set → plan → restore); bench/verify construct queries
    * single-threaded. */
  def pinLazy(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val k = "spark.sql.adaptive.enabled"
    val prev = sess.conf.get(k)
    sess.conf.set(k, "false")
    try df.localCheckpoint(false) finally sess.conf.set(k, prev)
  }

  /** True-dimension tables: bounded cardinality at ANY scale factor
    * (region=5, nation=25) — safe to pin broadcast forever. Everything
    * else (supplier/customer/part grow with SF) is left to Catalyst/AQE,
    * which broadcasts below the threshold and shuffles above it. */
  private val alwaysBroadcast = Set("region", "nation")

  /** Dimension-table read: pinned broadcast only for tables that stay
    * small at every scale factor. */
  def dim(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = load(spark, sfDir, name)
    if (alwaysBroadcast(name)) broadcast(df) else df
  }
}
