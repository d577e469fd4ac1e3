package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-mitigation join helpers.
  *
  * A shuffle hash/sort-merge join sends every row of a key to one
  * reducer; a hot key (one user with 1% of a 100 TB event log) turns
  * that reducer into the job's critical path. AQE's skew-join split
  * handles this at runtime for sort-merge joins; `saltedJoin` is the
  * explicit, planner-independent form: the large side gets a
  * deterministic salt in [0, salts), the small side is replicated
  * salts× with every salt value, and the join key becomes
  * (key, salt) — a hot key now spreads over `salts` reducers.
  *
  * Semantically identical to the unsalted inner join (each left row
  * matches exactly the replica carrying its salt), which is what the
  * sk01 oracle checks. The salt is derived from a high-cardinality
  * column via xxhash64 rather than rand() so results are deterministic
  * and retries/speculative tasks can't observe different salts.
  *
  * Cost model: replicating the small side salts× is the price; use it
  * when small×salts ≪ shuffle of the large side — the same regime
  * where a broadcast would be almost-but-not-quite possible.
  */
object Skew {

  private val SaltCol = "__graft_salt"

  /** Inner equi-join of `large` to `small` on `cond`, salted `salts`
    * ways. `saltBy` must be a high-cardinality column of `large`
    * (e.g. a row id) — it only seeds the salt, it does not affect
    * which rows match. */
  def saltedJoin(large: DataFrame, small: DataFrame, cond: Column,
      saltBy: Column, salts: Int): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    val l = large.withColumn(SaltCol, pmod(xxhash64(saltBy), lit(salts)).cast("int"))
    // shuffle_hash hint: salting only exists for the regime where the
    // build side is too big to broadcast — without the hint Catalyst
    // broadcasts the replicated side at test scale and the salt never
    // reaches a shuffle, which is not the plan being modeled
    val r = small.withColumn(SaltCol,
      explode(sequence(lit(0), lit(salts - 1))))
      .hint("shuffle_hash")
    l.join(r, cond && l(SaltCol) === r(SaltCol))
      .drop(SaltCol)
  }

  // sk02's child session, one per parent session. A child per call
  // would be tracked as one more session, add one more SparkListener
  // and leave its own Tables.load memo entries behind, all kept until
  // the application ends, and would miss those memos on every call.
  private val skewChild = new graft.SessionMemo[Unit, SparkSession]

  /** `s`'s child session with sk02's skew-join thresholds, built once. */
  private def skewSession(s: SparkSession): SparkSession =
    skewChild.get(s, ()) {
      val s2 = s.newSession()
      // thresholds are COMPRESSED map-output sizes — a hot partition of
      // a few thousand rows compresses to tens of KB, hence the tiny
      // values here (defaults: 256MB/64MB)
      s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
      s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512B")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      s2
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // AQE runtime skew-split — the engine-native complement to sk01's
    // manual salting, now oracle-gated. A planted hot key (every
    // lineitem row with l_linenumber ≠ 1, ~3/4 of the table, collapses
    // onto k=7) makes one shuffle partition dwarf the rest; AQE
    // re-plans the sort-merge join with the skewed partition split at
    // runtime and results stay exact — the oracle is the plain join.
    // The skew thresholds are scaled to testdata volume on a CHILD
    // session, one per parent (conf never leaks to the caller); at
    // 100 TB the defaults (256 MB advisory) do this job. SkewAqeSpec
    // asserts the final adaptive plan actually carries skew=true for
    // this query.
    "sk02_aqe_skew_join" -> { (s, d) =>
      val s2 = skewSession(s)
      // repartition(8) models the many-mapper input a real cluster has:
      // AQE splits a skewed reduce partition at MAP-OUTPUT granularity,
      // and the single-file local parquet gives exactly one mapper —
      // an un-splittable hot partition no matter its size. At 100 TB
      // the input has thousands of mappers and this line disappears.
      val li = graft.Tables.load(s2, d, "lineitem").repartition(8).select(
        when(col("l_linenumber") =!= 1, lit(7L))
          .otherwise(col("l_suppkey") % 50).as("k"),
        col("l_extendedprice"))
      val cust = graft.Tables.load(s2, d, "customer")
        .filter(col("c_custkey") < 50)
        .select(col("c_custkey").as("k"), col("c_nationkey"))
      li.join(cust, "k")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_lines"),
          graft.functions.Num.dsum(col("l_extendedprice")).as("sum_price"))
    }
  )

  def oracle: Map[String, String] = Map(
    "sk02_aqe_skew_join" ->
      """WITH e AS (
        |  SELECT CASE WHEN l_linenumber != 1 THEN 7 ELSE l_suppkey % 50 END AS k,
        |    l_extendedprice
        |  FROM lineitem
        |), c AS (
        |  SELECT c_custkey AS k, c_nationkey FROM customer WHERE c_custkey < 50
        |)
        |SELECT c_nationkey, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM e JOIN c USING (k)
        |GROUP BY c_nationkey""".stripMargin
  )
}
