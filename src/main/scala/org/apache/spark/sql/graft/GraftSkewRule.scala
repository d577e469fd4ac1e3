package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalescedPartitionSpec, ShufflePartitionSpec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, ShufflePartitionsUtil, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ValidateRequirements}
import org.apache.spark.sql.internal.SQLConf
import graft.plans.{AsofJoinExec, BandJoinExec}

/** AQE skew handling for the graft merge joins — the exact mechanism of
  * Spark's own `OptimizeSkewedJoin`, applied to [[AsofJoinExec]] and
  * [[BandJoinExec]]: once both child shuffle stages have materialized,
  * read their per-reducer byte sizes from `MapOutputStatistics`, and for
  * every PROBE partition larger than the skew threshold replace the
  * plain read with mapper-range slices (`PartialReducerPartitionSpec`)
  * while the matching BUILD partition is read whole once per slice
  * (`CoalescedPartitionSpec` repeated). No second shuffle, no hot-key
  * detection job, no logical replan — the splits are just different
  * reads of the map output that already exists.
  *
  * Splitting the probe side is exact for both operators because each
  * probe row's result depends only on its own row plus the FULL build
  * partition for its key: as-of picks the latest build row at-or-before
  * the probe time, band emits every build row in the probe's window —
  * neither consults other probe rows. Splitting the BUILD side would
  * scatter one key's build rows across slices and break both scans, so
  * it is never done (the same reason Spark's rule refuses to split the
  * preserved side of an outer join). Skew ON the build side is handled
  * by the SAME probe-slice move when it can help: a partition whose
  * BUILD bytes exceed the threshold has its probe partition sliced into
  * mapper ranges, each slice re-fetching (and re-sorting) the whole hot
  * build partition — per-reducer wall drops from sort(p_i)+sort(b_i) on
  * one core toward sort(b_i), a win exactly while p_i ≥ b_i. When the
  * build partition is LARGER than its probe partition the slice floor
  * (a full build re-sort per slice) pins the wall, so the rule warns
  * loudly and leaves it alone: that partition's merge stays serialized.
  *
  * Runs as a QUERY-STAGE-PREP rule (the phase Spark's own skew rule
  * runs in, re-applied on every AQE re-optimization): by the time both
  * stages are materialized the pattern below —
  * exec(Sort(stage), Sort(stage)) — is exactly what re-planning
  * produces, and `isSkewJoin = true` switches the exec's required
  * distributions off so the introduced `AQEShuffleReadExec`s (whose
  * 1:1 per-slice alignment IS the clustering, but carries no
  * `Partitioning`) pass validation, exactly as `SortMergeJoinExec`
  * does. This rule makes the STOCK call fast under probe skew with
  * zero user action. It is the only skew treatment of the time joins,
  * and Spark's own `spark.sql.adaptive.skewJoin.enabled` turns it off.
  */
case class OptimizeSkewedGraftJoin() extends Rule[SparkPlan] {

  private object ShuffleStage {
    def unapply(plan: SparkPlan): Option[ShuffleQueryStageExec] = plan match {
      case s: ShuffleQueryStageExec
          if s.isMaterialized && s.mapStats.isDefined &&
            s.shuffle.shuffleOrigin == ENSURE_REQUIREMENTS => Some(s)
      case _ => None
    }
  }

  private def medianSize(sizes: Array[Long]): Long = {
    val sorted = sizes.sorted
    math.max(sorted(sizes.length / 2), 1L)
  }

  override def apply(plan: SparkPlan): SparkPlan = {
    if (!conf.getConf(SQLConf.SKEW_JOIN_ENABLED)) return plan
    val optimized = plan.transformUp {
      case j: AsofJoinExec if !j.isSkewJoin =>
        trySplit(j.left, j.right)((l, r) =>
          j.copy(left = l, right = r, isSkewJoin = true)).getOrElse(j)
      case j: BandJoinExec if !j.isSkewJoin =>
        trySplit(j.left, j.right)((l, r) =>
          j.copy(left = l, right = r, isSkewJoin = true)).getOrElse(j)
    }
    if (optimized.fastEquals(plan)) plan
    // Splitting scatters a key's probe rows across slices: the join's
    // outputPartitioning degrades to Unknown (the skewed AQEShuffleRead
    // carries no Partitioning), so any downstream operator that was
    // colocated on the join keys — an exchange-free aggregate, a second
    // merge join — would silently see partial groups. EnsureRequirements
    // has already run this phase and will NOT re-insert the exchange, so
    // do what Spark's OptimizeSkewedJoin does: re-validate every node's
    // required distribution/ordering against the split plan and revert
    // wholesale if anything no longer holds. (Spark's rule also checks a
    // root requiredDistribution for distribution-required writes; that
    // field isn't visible to injected stage-prep rules — but such plans
    // carry their own shuffle above the join unless the join partitioning
    // satisfied the write, in which case validate-free Spark would have
    // the same gap with its own joins.)
    else if (ValidateRequirements.validate(optimized)) optimized
    else {
      logWarning("graft skew join: split would break a downstream " +
        "distribution/ordering requirement; reverting to the unsplit plan")
      plan
    }
  }

  /** Match the exec's two sorted-shuffle-stage children and rebuild with
    * split reads; None when the shape or the stats don't warrant it. */
  private def trySplit(left: SparkPlan, right: SparkPlan)(
      rebuild: (SparkPlan, SparkPlan) => SparkPlan): Option[SparkPlan] =
    (left, right) match {
      case (s1 @ SortExec(_, _, ShuffleStage(probe), _),
          s2 @ SortExec(_, _, ShuffleStage(build), _)) =>
        split(probe, build).map { case (pRead, bRead) =>
          rebuild(s1.copy(child = pRead), s2.copy(child = bRead))
        }
      case _ => None
    }

  /** Probe-side skew split: None when nothing is skewed (leave the
    * plan untouched — no AQEShuffleRead wrapper, no isSkewJoin). */
  private def split(probe: ShuffleQueryStageExec,
      build: ShuffleQueryStageExec)
      : Option[(SparkPlan, SparkPlan)] = {
    val pStats = probe.mapStats.get
    val bStats = build.mapStats.get
    val pSizes = pStats.bytesByPartitionId
    val bSizes = bStats.bytesByPartitionId
    if (pSizes.length != bSizes.length) return None
    val factor = conf.getConf(SQLConf.SKEW_JOIN_SKEWED_PARTITION_FACTOR)
    val absThreshold =
      conf.getConf(SQLConf.SKEW_JOIN_SKEWED_PARTITION_THRESHOLD).toDouble
    val pThreshold = math.max(absThreshold, medianSize(pSizes) * factor)
    // the same skew formula applied to the BUILD side's own byte
    // distribution: a build partition this far over its siblings is a
    // hot dimension key whose merge we parallelize via probe slices
    val bThreshold = math.max(absThreshold, medianSize(bSizes) * factor)
    val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val targetSize = math.max(advisory, medianSize(pSizes))
    val pSide = Seq.newBuilder[ShufflePartitionSpec]
    val bSide = Seq.newBuilder[ShufflePartitionSpec]
    var nSplit = 0
    var nBuildHot = 0
    var i = 0
    while (i < pSizes.length) {
      val probeSkewed = pSizes(i) > pThreshold
      // Build-hot handling: every probe slice re-fetches AND re-sorts
      // the whole build partition (the SortExec sits above the sliced
      // read), so the per-slice wall has a floor of sort(build_i) —
      // slicing is a win only while the probe partition is at least
      // build-sized (wall drops from sort(p)+sort(b) toward sort(b)).
      // With build >> probe the split would burn k× CPU for no
      // wall-clock gain: warn loudly instead.
      val buildHot = bSizes(i) > bThreshold
      val buildSplit = buildHot && pSizes(i) >= bSizes(i)
      if (buildHot) {
        nBuildHot += 1
        // b >> p is the quadrant this rule cannot heal: every probe
        // slice re-sorts the whole hot build partition, so its sort
        // stays serialized whether or not the probe side also happens
        // to be skewed (the both-hot p/2-cap split bounds the damage at
        // ~2 slices but does NOT parallelize the build sort). Warn in
        // BOTH cases, so the quadrant is never silently serialized.
        if (!buildSplit)
          logWarning(s"graft skew join: build partition $i is hot " +
            s"(${bSizes(i)} bytes > ${bThreshold.toLong}) and larger than " +
            s"its probe partition (${pSizes(i)} bytes) — probe slicing " +
            "cannot parallelize its build sort" +
            (if (probeSkewed) " (the probe side is also skewed, so the " +
              "partition is split at the half-probe cap — each slice " +
              "still re-sorts the full build partition)"
            else "") +
            "; this partition's merge stays serialized.")
      }
      // Slice target: the advisory target (floored at the probe
      // median, as Spark's rule does) when probe-skewed; floored at
      // the BUILD partition size whenever the build side is hot —
      // slices below build_i bytes of probe are pointless in every
      // case (each slice already pays a full build_i re-fetch+re-sort,
      // so finer slicing multiplies that cost for no wall gain).
      // Probe-skewed AND build-hot with build > probe: the build floor
      // alone would forbid any slice and forfeit a real (≤2×) win, so
      // cap the target at half the probe partition — two-ish slices
      // each pay the unavoidable build re-sort IN PARALLEL, dropping
      // the wall from sort(p)+sort(b) toward sort(b) at a bounded
      // (~2×) CPU cost, where advisory-sized slices would burn
      // p/advisory × sort(b). Build-hot with a uniform probe side: the
      // probe-median floor would forbid any slice, so the floor is
      // max(build_i, advisory).
      val buildFloor = if (buildHot) bSizes(i) else 0L
      val sliceTarget: Long =
        if (probeSkewed && buildHot)
          math.max(math.min(math.max(targetSize, buildFloor),
            pSizes(i) / 2), 1L)
        else if (probeSkewed) targetSize
        else math.max(buildFloor, advisory)
      val slices: Seq[ShufflePartitionSpec] =
        if (probeSkewed || buildSplit) {
          ShufflePartitionsUtil
            .createSkewPartitionSpecs(pStats.shuffleId, i, sliceTarget)
            .filter(_.length > 1) match {
            case Some(s) => nSplit += 1; s
            case None => Seq(CoalescedPartitionSpec(i, i + 1, pSizes(i)))
          }
        } else Seq(CoalescedPartitionSpec(i, i + 1, pSizes(i)))
      slices.foreach { sp =>
        pSide += sp
        bSide += CoalescedPartitionSpec(i, i + 1, bSizes(i))
      }
      i += 1
    }
    if (nSplit == 0) None
    else {
      logInfo(s"graft skew join: split $nSplit probe partition(s)" +
        (if (nBuildHot > 0) s"; $nBuildHot partition(s) have hot BUILD " +
          "bytes (each probe slice re-reads its whole build partition; " +
          "a hot-build partition larger than its probe stays unsplit " +
          "unless the probe is also skewed, in which case it splits at " +
          "the half-probe cap)"
        else ""))
      Some((AQEShuffleReadExec(probe, pSide.result()),
        AQEShuffleReadExec(build, bSide.result())))
    }
  }
}
