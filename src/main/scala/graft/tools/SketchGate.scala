package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.tools.Scale.timed

/** Sketch-aggregate gate (the gram gate's pattern applied to the
  * CMS/HLL family): a synthetic key stream ~100x sf0.1's row count at
  * the default size, generated entirely map-side from spark.range, with
  * planted structure whose exact answer is known:
  *
  *   - keys are `id % nDistinct`, so the true distinct count is
  *     EXACTLY nDistinct and every key's true frequency is
  *     nRows/nDistinct (±1);
  *   - one planted heavy hitter: ids with id % heavyEvery == 0 remap
  *     to key 0, making its true count known in closed form.
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
  * Size = nRows (default 60M), rounded down to a multiple of
  * nDistinct = 100000: the closed-form median below needs
  * heavyEvery | nDistinct | nRows, and the HLL raw estimate is only
  * unbiased far above its 2^12 registers, so nDistinct stays fixed.
  * Results recorded in docs/ROUND9.md.
  */
private[tools] object SketchGate {

  val Distinct = 100000L

  def run(spark: SparkSession, size: Long): Scale.Measures = {
    val nDistinct = Distinct
    val nRows = size / nDistinct * nDistinct
    val heavyEvery = 100L // every 100th row remaps to key 0

    val keys = spark.range(nRows).select(
      when(col("id") % heavyEvery === 0, lit(0L))
        .otherwise(col("id") % nDistinct).as("k"))

    // CMS: one pass, 4x1024 cells; probe the planted heavy hitter
    val D = 4; val W = 1024
    val (cells, cmsSec) = timed {
      keys.agg(graft.functions.Cms.cmsSketch(col("k"), D, W))
        .collect()(0).getSeq[Long](0)
    }
    // exact count of the planted heavy key, computed from the same
    // map-side generator (ids ≡ 0 mod heavyEvery plus the remapped
    // multiples of nDistinct)
    val exact0 = keys.filter(col("k") === 0).count()
    val est0 = (1 to D).map { seed =>
      cells((seed - 1) * W + graft.functions.CmsAggregate.bucket(seed, 0L, W))
    }.min

    // HLL: one pass, 2^12 registers for the 1e5-distinct stream
    val P = 12; val M = 1 << P
    val (regs, hllSec) = timed {
      keys.agg(graft.functions.Hll.hllSketch(col("k").cast("string"), P))
        .collect()(0).getSeq[Int](0)
    }
    val hllEst = graft.functions.Hll.rawEstimate(
      graft.functions.Hll.regSum(regs), M)
    val hllErr = (hllEst - nDistinct) / nDistinct

    // HIST: one pass, 1024 bins over the key space. The planted
    // structure makes every key's count — and therefore the exact
    // median key — known in closed form (divisibility holds by
    // construction: key 0 holds nRows/heavyEvery; other multiples of
    // heavyEvery hold 0 because their ids are ≡0 mod heavyEvery and
    // remap; the rest hold nRows/nDistinct each), so the histogram's
    // p50 bin must be EXACTLY the bin containing that key. Certifies
    // the same three properties as the CMS: constant nBins·8-byte
    // buffer at any row count, one pass, constant-size exchange.
    val NB = 1024; val BW = math.max(1L, nDistinct / NB)
    val (bins, histSec) = timed {
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

    assert(est0 >= exact0 && math.abs(hllErr) < 5 * 1.04 / math.sqrt(M) && histOk,
      s"sketch gate bound violated: heavy exact $exact0 est $est0, " +
        s"hll rel err $hllErr, hist rows $histN p50 bin $p50Bin median key $medKey")
    Seq("nRows" -> nRows, "nDistinct" -> nDistinct,
      "cms_sec" -> cmsSec, "hll_sec" -> hllSec, "hist_sec" -> histSec,
      "heavy_exact" -> exact0, "heavy_est" -> est0,
      "hist_rows" -> histN, "p50_bin" -> p50Bin, "median_key" -> medKey,
      "hll_est" -> hllEst, "hll_rel_err" -> hllErr)
  }
}
