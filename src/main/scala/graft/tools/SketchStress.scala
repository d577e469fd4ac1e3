package graft.tools

import org.apache.spark.sql.functions._

/** Sketch-aggregate stress driver (the GramStress pattern applied to
  * the CMS/HLL family): a synthetic key stream ~100x sf0.1's row
  * count, generated entirely map-side from spark.range, with planted
  * structure whose exact answer is known:
  *
  *   - keys are `id % nDistinct`, so the true distinct count is
  *     EXACTLY nDistinct and every key's true frequency is
  *     nRows/nDistinct (±1);
  *   - one planted heavy hitter: key 0 also absorbs every id whose
  *     id div nDistinct == 0 ... no — ids with id % heavyEvery == 0
  *     remap to key 0, making its true count known in closed form.
  *
  * What this certifies at 100x scale:
  *   - the CMS aggregate's buffer stays d×w regardless of rows (the
  *     run would OOM instantly if the buffer scaled with data);
  *   - the CMS estimate for the planted heavy hitter is >= its exact
  *     count (the no-undercount bound) and within w-bound slack;
  *   - the HLL raw estimate lands within ~5 standard errors of
  *     nDistinct;
  *   - wall time scales ~linearly with rows (one pass, no shuffle
  *     growth — the exchange carries one buffer per map partition).
  *
  * Prints one JSON line. Run: tools/run.sh graft.tools.SketchStress
  * [nRows] [nDistinct] (default 60000000 100000). Results recorded in
  * docs/ROUND9.md.
  */
object SketchStress {
  def main(args: Array[String]): Unit = {
    val nRows = args.headOption.map(_.toLong).getOrElse(60000000L)
    val nDistinct = args.drop(1).headOption.map(_.toLong).getOrElse(100000L)
    val heavyEvery = 100L // every 100th row remaps to key 0
    val spark = graft.GraftSession()

    val keys = spark.range(nRows).select(
      when(col("id") % heavyEvery === 0, lit(0L))
        .otherwise(col("id") % nDistinct).as("k"))

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // CMS: one pass, 4x1024 cells; probe the planted heavy hitter
    val D = 4; val W = 1024
    val ((cells, cmsSec)) = timed {
      keys.agg(graft.functions.Cms.cmsSketch(col("k"), D, W))
        .collect()(0).getSeq[Long](0)
    }
    // exact count of the planted heavy key, computed from the same
    // map-side generator (ids ≡ 0 mod heavyEvery plus the remapped
    // multiples of nDistinct)
    val exact0 = spark.range(nRows).select(
        when(col("id") % heavyEvery === 0, lit(0L))
          .otherwise(col("id") % nDistinct).as("k"))
      .filter(col("k") === 0).count()
    val est0 = (1 to D).map { seed =>
      cells((seed - 1) * W + graft.functions.CmsAggregate.bucket(seed, 0L, W))
    }.min

    // HLL: one pass, 2^12 registers for the 1e5-distinct stream
    val P = 12; val M = 1 << P
    val ((regs, hllSec)) = timed {
      keys.agg(graft.functions.Hll.hllSketch(col("k").cast("string"), P))
        .collect()(0).getSeq[Int](0)
    }
    val hllEst = graft.functions.Hll.rawEstimate(
      graft.functions.Hll.regSum(regs), M)
    val hllErr = (hllEst - nDistinct) / nDistinct

    // HIST: one pass, 1024 bins over the key space. The planted
    // structure makes every key's count — and therefore the exact
    // median key — known in closed form (divisibility required below:
    // key 0 holds nRows/heavyEvery; other multiples of heavyEvery
    // hold 0 because their ids are ≡0 mod heavyEvery and remap; the
    // rest hold nRows/nDistinct each), so the histogram's p50 bin
    // must be EXACTLY the bin containing that key. Certifies the same
    // three properties as the CMS: constant nBins·8-byte buffer at
    // any row count, one pass, constant-size exchange.
    require(nDistinct % heavyEvery == 0 && nRows % nDistinct == 0,
      "closed-form median needs heavyEvery | nDistinct | nRows")
    val NB = 1024; val BW = math.max(1L, nDistinct / NB)
    val ((bins, histSec)) = timed {
      keys.agg(graft.functions.Hist.histSketch(col("k"), 0L, BW, NB))
        .collect()(0).getSeq[Long](0)
    }
    val histN = bins.sum
    val p50Rank = (histN - 1) / 2 + 1
    val p50Bin = bins.scanLeft(0L)(_ + _).drop(1).indexWhere(_ >= p50Rank)
    def keyCount(k: Long): Long =
      if (k == 0L) nRows / heavyEvery
      else if (k % heavyEvery == 0L) 0L
      else nRows / nDistinct
    var (cum, kk, medKey) = (0L, 0L, -1L)
    while (medKey < 0 && kk < nDistinct) {
      cum += keyCount(kk); if (cum >= p50Rank) medKey = kk; kk += 1
    }
    val histOk = histN == nRows &&
      p50Bin == graft.functions.Hist.bin(medKey, 0L, BW, NB)

    val ok = est0 >= exact0 && math.abs(hllErr) < 5 * 1.04 / math.sqrt(M) &&
      histOk
    println(s"""{"nRows":$nRows,"nDistinct":$nDistinct,""" +
      s""""cms_sec":$cmsSec,"hll_sec":$hllSec,"hist_sec":$histSec,""" +
      s""""heavy_exact":$exact0,"heavy_est":$est0,""" +
      s""""hist_rows":$histN,"p50_bin":$p50Bin,"median_key":$medKey,""" +
      s""""hll_est":$hllEst,"hll_rel_err":$hllErr,"ok":$ok}""")
    assert(ok, "sketch stress bound violated")
    spark.stop()
  }
}
