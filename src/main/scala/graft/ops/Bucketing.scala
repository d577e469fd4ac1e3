package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Num.dsum

/** Bucketed-table co-location: the write-side answer to "this fact-fact
  * join shuffles both sides every run".
  *
  * Writing both tables bucketed (and sorted) by the join key hash-splits
  * each into N files per key-range ONCE, at write time; every subsequent
  * equi-join on that key plans as a bucket-local sort-merge with ZERO
  * shuffle exchanges — the join cost becomes a co-partitioned scan. At
  * 100 TB this is the difference between re-shuffling 30 TB of lineitem
  * on every query and never shuffling it again; BucketingSpec pins the
  * exchange-free plan and the driver gates bk01 against the plain-join
  * oracle. (Spark's managed-table bucketing is hash(key) mod N on both
  * sides, so bucket i of table A joins only bucket i of table B.)
  */
object Bucketing {

  /** Write `df` as a managed bucketed table (bucketed + sorted by `key`). */
  def writeBucketed(spark: SparkSession, df: DataFrame, table: String,
      key: String, buckets: Int): Unit = {
    // a previous JVM may have left the managed location on disk with no
    // entry in this (in-memory) catalog — mode("overwrite") refuses that
    // combination, so clear both sides explicitly
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.conf.warehousePath, table)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    df.write
      .bucketBy(buckets, key)
      .sortBy(key)
      .mode("overwrite")
      .saveAsTable(table)
  }

  /** Join two same-bucketed tables on their bucket key — plans with no
    * shuffle on either side. */
  def cojoin(spark: SparkSession, left: String, right: String,
      key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  // Bucketing is a write-once layout decision amortized over every later
  // join, so bk01 builds the bucketed twins once per (session, dir) and
  // re-runs join the existing layout — the honest 100 TB cost model.
  // Table names carry a dir suffix so two scale factors in one session
  // cannot collide. A pair built while either source table was empty is
  // not memoized: the bucketed copies would hold no rows for the rest of
  // the session, even after data lands.
  private final case class BucketedPair(orders: String, lineitem: String,
      empty: Boolean)
  private val built = new graft.SessionMemo[String, BucketedPair](keep = !_.empty)

  // Strong per-corpus-dir suffix for derived table/dir names.
  // String.hashCode is 32-bit: two DIFFERENT corpus dirs colliding
  // would alias their bucketed tables (the second build silently
  // overwrites the first corpus's layout while its memo still points
  // there) or share one z-layout temp dir. md5 makes that chance
  // cryptographically negligible.
  private def dirSfx(d: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** (ordersTable, lineitemTable) bucketed by orderkey, built on demand. */
  def bucketedPair(s: SparkSession, d: String): (String, String) = {
    val p = built.get(s, d) {
      val sfx = dirSfx(d)
      val (ot, lt) = (s"graft_bk_orders_$sfx", s"graft_bk_lineitem_$sfx")
      writeBucketed(s, Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority")), ot, "o_orderkey", 8)
      writeBucketed(s, Tables.load(s, d, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
        lt, "o_orderkey", 8)
      BucketedPair(ot, lt,
        empty = Seq(ot, lt).exists(t => s.table(t).limit(1).isEmpty))
    }
    (p.orders, p.lineitem)
  }

  // bk02: Z-ORDER layout — the 2-D companion to bk01's single-key
  // bucketing. The layout interleaves the bits of the (partkey,
  // suppkey) grid cell (functions.ZValue, 16×16 cells sized from the
  // corpus maxima) and writes lineitem partitioned by z-cell; a 2-D
  // range query then enumerates only the cells intersecting its box
  // (ZOrderUtil.rangeCells — a driver-side, grid-bounded IN-list) and
  // every other partition is pruned at planning time. Same
  // write-once-amortize-forever cost model as bk01, so the layout is
  // memoized per (session, dir); at 100 TB this is OPTIMIZE/ZORDER
  // clustering as a first-class layout + query path — a query box of
  // 1/64 of the key space touches ~4 of 256 partitions instead of
  // scanning the table.
  // Only a built layout is memoized: the None (empty corpus) verdict
  // re-runs the cheap maxima probe until a layout exists. Releasing an
  // entry deletes an unmanaged layout's temp directory.
  private val zBuilt = new graft.SessionMemo[String,
    Option[(String, Long, Long, Long, Long)]](keep = _.isDefined,
    release = _.foreach(z => graft.IndexStore.releaseUnmanaged(z._1)))

  // analyzed-plan memo of the layout read-back (see bk02): keyed by the
  // layout path, which zBuilt/IndexStore already scope per corpus
  private val zRead = new graft.SessionMemo[String, DataFrame]

  /** (layoutPath, cellWidthA, cellWidthB, maxA, maxB) for the
    * z-ordered lineitem copy, built on demand once per (session, dir).
    * With an index root configured (IndexStore) the layout persists
    * ACROSS sessions under the root with a lineitem fingerprint — a
    * data layout is the archetypal write-once artifact, so it gets the
    * same freshness-gated store as the LSH pairs and PQ codebooks;
    * unmanaged, it lives under the JVM temp dir at a DETERMINISTIC
    * per-corpus path written with overwrite, so repeated sessions on
    * one machine reuse one directory instead of accumulating
    * corpus-sized copies. The corpus maxima ride along in the memo so
    * the query never re-scans the table for bounds it already
    * computed. */
  def zorderLayout(s: SparkSession, d: String): Option[(String, Long, Long, Long, Long)] =
    zBuilt.get(s, d) {
      val li = Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"))
      val m = li.agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
      // empty corpus: no maxima, and a 0-row partitioned write leaves
      // an unreadable directory — there is no layout to build
      if (m.isNullAt(0)) None
      else {
      val (ma, mb) = (m.getLong(0), m.getLong(1))
      val (wa, wb) = (ma / 16 + 1, mb / 16 + 1)
      def writeTo(path: String): Unit =
        li.withColumn("zcell", graft.functions.ZOrder.zValue(
            expr(s"l_partkey div $wa"), expr(s"l_suppkey div $wb")))
          .write.mode("overwrite").partitionBy("zcell").parquet(path)
      val path = graft.IndexStore.resolve(s, d, "zorder_lineitem", "lineitem") match {
        case graft.IndexStore.Unmanaged =>
          // per-JVM temp scope (plus the strong dirSfx hash): the old
          // deterministic shared path meant two concurrent JVMs on one
          // corpus raced overwrite-vs-read on the same directory.
          // Cross-SESSION layout reuse is the managed (IndexStore)
          // path's job; unmanaged is session-scoped by design, and the
          // zBuilt memo already makes it write-once per session and
          // deletes the directory when the session's entry goes.
          val p = graft.IndexStore.unmanagedDir(s"graft_zorder_${dirSfx(d)}_")
          writeTo(p)
          p
        case graft.IndexStore.Fresh(base) =>
          graft.IndexStore.dataPath(base)
        case graft.IndexStore.Build(base, commit) =>
          try {
            writeTo(graft.IndexStore.dataPath(base))
            commit()
          } catch { case t: Throwable =>
            graft.IndexStore.abortBuild(s, base); throw t
          }
          graft.IndexStore.dataPath(base)
      }
      Some((path, wa, wb, ma, mb))
      }
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // 2-D range query over the z-ordered layout: the box
    // [max/8, max/4]² (deterministic per corpus — the oracle derives
    // the same bounds in SQL) becomes a z-cell IN-list partition
    // filter plus the exact residual predicate. The oracle is the
    // plain box query on the original table: layout must never change
    // answers, only the partitions touched (plan pinned in
    // BucketingSpec).
    "bk02_zorder_prune" -> { (s, d) =>
      zorderLayout(s, d) match {
        case None => // empty corpus: empty box result, same schema
          Tables.load(s, d, "lineitem")
            .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
              col("l_suppkey"), col("l_quantity")).limit(0)
        case Some((path, wa, wb, ma, mb)) =>
          val (a0, a1, b0, b1) = (ma / 8, ma / 4, mb / 8, mb / 4)
          val cells = graft.functions.ZOrderUtil
            .rangeCells(a0 / wa, a1 / wa, b0 / wb, b1 / wb, bits = 31)
          // Plan-level read memo (round 16): s.read.parquet re-LISTS the
          // layout's 256 zcell partition directories on every call — a
          // 256-task parallel-discovery job plus ~0.5s of driver time
          // per invocation, dominating the (fully pruned) query itself.
          // Memoizing the ANALYZED DataFrame keeps the InMemoryFileIndex
          // across calls — exactly Tables.load's rationale; the partition
          // filter below still prunes per query at planning time. No
          // data is pinned.
          zRead.get(s, path)(s.read.parquet(path))
            .filter(col("zcell").isin(cells: _*) &&
              col("l_partkey").between(a0, a1) &&
              col("l_suppkey").between(b0, b1))
            .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
              col("l_suppkey"), col("l_quantity"))
      }
    },

    // Fact-fact cojoin over the bucketed layout: lines + quantity per
    // order priority. Semantically the plain orders⋈lineitem join — the
    // oracle IS the plain join — but the join itself is bucket-local
    // (zero shuffle exchanges below the aggregation; plan pinned in
    // BucketingSpec). The only shuffle in the whole query is the final
    // 5-group aggregate.
    "bk01_bucketed_cojoin" -> { (s, d) =>
      val (ot, lt) = bucketedPair(s, d)
      cojoin(s, ot, lt, "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("sum_qty"))
    }
  )

  def oracle: Map[String, String] = Map(
    // bk02: the plain box query — bounds derived from the same maxima
    // the layout used, so both engines pick the identical box.
    "bk02_zorder_prune" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
        |FROM lineitem
        |WHERE l_partkey BETWEEN (SELECT MAX(l_partkey) // 8 FROM lineitem)
        |                    AND (SELECT MAX(l_partkey) // 4 FROM lineitem)
        |  AND l_suppkey BETWEEN (SELECT MAX(l_suppkey) // 8 FROM lineitem)
        |                    AND (SELECT MAX(l_suppkey) // 4 FROM lineitem)""".stripMargin,

    "bk01_bucketed_cojoin" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin
  )
}
