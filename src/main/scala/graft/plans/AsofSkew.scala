package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge

/** Skew tier for the as-of family. The merge path hash-partitions
  * probes by key, so one hot key (a power user, a default tenant id)
  * serializes its entire probe volume through one partition's sort +
  * merge — the same failure mode sk01 treats for equi-joins.
  *
  * Hot PROBE keys need nothing from the caller: the runtime rule
  * [[org.apache.spark.sql.graft.OptimizeSkewedGraftJoin]] slices a
  * skewed probe partition by mapper ranges and replicates the build
  * partition whole to every slice. Replication is exact for time
  * joins: a probe's match depends only on the build rows OF ITS KEY,
  * and every slice still sees the key's complete build history.
  *
  * Hot BUILD keys are this object's: [[detectHotKeyTuples]] finds them
  * on a sample, and [[buildSkewed]] routes each through the keyless
  * composition of its join kind (below).
  *
  * Keys are ARBITRARY tuples: any number of key columns of any
  * equatable type (strings, ints, composites). Hot-key membership is
  * an OR-of-conjunct-equalities predicate over the ≤ 1/minShare
  * detected tuples — a few literal comparisons per row, broadcast-free
  * and codegen-friendly. The join comes as one [[TimeJoin]]
  * descriptor, as-of and band alike.
  */
object AsofSkew {

  /** Hot probe key TUPLES by sampled share: tuples holding ≥
    * `minShare` of a `sampleFraction` sample of the probe side.
    * Bounded by construction: at most 1/minShare tuples can exceed
    * the share, and only that many rows are collected. Two vocab-free
    * jobs over the sample — the sk02 detection shape, usable as a
    * pre-pass at any scale. A tuple with a null component is never
    * returned: it can never match in the join, so routing it would
    * only add a branch that yields nothing. */
  def detectHotKeyTuples(probe: DataFrame, keys: Seq[String],
      sampleFraction: Double = 0.01, minShare: Double = 0.05)
      : Seq[Seq[Any]] = {
    require(keys.nonEmpty, "at least one key column")
    val counts = probe.select(keys.map(col): _*).sample(sampleFraction, seed = 42)
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__graft_n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val totalRow = counts.agg(sum(col("__graft_n"))).head
      val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
      if (total == 0L) Seq.empty
      else counts.filter(col("__graft_n") >= lit(total * minShare) &&
          keys.map(col(_).isNotNull).reduce(_ && _))
        .orderBy(col("__graft_n").desc)
        .limit((1.0 / minShare).toInt + 1)
        .collect().map(r => keys.indices.map(r.get).toSeq).toSeq
    } finally { counts.unpersist(); () }
  }

  // ---- BUILD-side hot keys: the opposite skew quadrant --------------
  //
  // Salting the probes is useless here — it would REPLICATE the hot
  // key's millions of build rows per salt. And the AQE probe-slice only
  // helps while the probe partition is at least build-sized: every
  // slice re-fetches and re-sorts the whole hot build partition, so
  // with build >> probe the wall stays pinned at sort(build_hot). The
  // exact fix is the keyless bucket+carry composition applied PER HOT
  // KEY: within one key the join is keyless, so bucketing that key's
  // build rows by time spreads its history across ~16×partitions
  // buckets (the sort distributes), the bucket-count-sized carry table
  // restores cross-bucket lookback, and cold keys run the normal keyed
  // merge untouched. Results are row-identical (AsofSkewSpec pins it):
  // a probe's match depends only on its own key's complete build rows,
  // which each branch still sees in full. Detection: sample the BUILD
  // side with [[detectHotKeyTuples]] (same bounded two-job shape).

  /** OR-of-conjunct-equalities membership test: does this row's key
    * tuple equal any hot tuple? A null key component is never hot (it
    * never matches in the join either), and the test is never NULL —
    * a three-valued NULL would make `!pred` DROP null-key rows — so it
    * is safe to negate for the cold branch. */
  private def isHotNullSafe(cols: Seq[String], hot: Seq[Seq[Any]]): Column =
    coalesce(hot.map(t => cols.zip(t).map { case (c, v) =>
      if (v == null) lit(false) else col(c) === lit(v)
    }.reduce(_ && _)).reduce(_ || _), lit(false))

  /** Plan-growth guard for the build-skew tiers: one keyless branch is
    * built PER hot tuple, and every branch carries its own scan of both
    * inputs — plans and input scans grow LINEARLY with the routed tuple
    * count (detectHotKeyTuples can return up to 1/minShare + 1 ≈ 21 at
    * the defaults). A handful is the intended regime (true hot keys are
    * few by definition — each holds ≥ minShare of the table); past the
    * threshold, warn loudly: the caller should raise minShare so only
    * genuinely hot keys route, or persist the inputs themselves before
    * calling so the per-branch rescans hit storage once. */
  private val BranchWarnThreshold = 8
  private def warnManyBranches(n: Int): Unit =
    if (n > BranchWarnThreshold)
      System.err.println(s"[graft] AsofSkew.buildSkewed: routing $n hot " +
        "build-key tuples — one keyless branch (and one scan of each " +
        "input) per tuple; plans and IO grow linearly with the tuple count. Raise " +
        "minShare so only genuinely hot keys route, or persist the " +
        "inputs before calling.")

  /** The join with hot BUILD key tuples routed through the keyless
    * composition of its kind — bucket+carry for as-of, the bucketized
    * band for a band — one branch per hot tuple, cold keys through the
    * plain keyed merge. Row-identical to the plain join; only the
    * layout of the hot keys' build history changes. Plans and input
    * scans grow linearly with `hotKeys.size` — see
    * [[warnManyBranches]]; pass only genuinely hot tuples. */
  def buildSkewed(left: DataFrame, right: DataFrame, join: TimeJoin,
      hotKeys: Seq[Seq[Any]]): DataFrame = PlanBridge.noAutoRoute {
    require(!join.keyless, "build-skew routing needs the join's key pairs")
    // one branch per DISTINCT tuple: a duplicated hot key (two
    // detection passes concatenated) would silently duplicate every
    // matched row for it — the cold branch's membership test is
    // duplicate-tolerant, this union is not
    val hot = hotKeys.distinct
    if (hot.isEmpty) PlanBridge.timeJoin(left, right, join)
    else {
      warnManyBranches(hot.size)
      val cold = PlanBridge.timeJoin(
        left.filter(!isHotNullSafe(join.leftKeys, hot)),
        right.filter(!isHotNullSafe(join.rightKeys, hot)), join)
      // the caller's hint steers the hot branches too (the partitions
      // they are most likely tuning) — the keyless compositions accept
      // the same hint vocabulary
      val keyless = TimeJoin.keyless(join.leftTime, join.rightTime,
        join.kind, join.hint)
      def keyEq(cols: Seq[String], t: Seq[Any]): Column =
        cols.zip(t).map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)
      val hotBranches = hot.map { t =>
        PlanBridge.timeJoin(left.filter(keyEq(join.leftKeys, t)),
          right.filter(keyEq(join.rightKeys, t)), keyless)
      }
      hotBranches.foldLeft(cold)(_.unionByName(_))
    }
  }
}
