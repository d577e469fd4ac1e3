package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** HyperLogLog as a PRODUCTION single-pass aggregate with a
  * deterministic, cross-engine-replayable hash — the hash-exact sibling
  * of `q08b_approx_distinct` (whose built-in HLL++ sketch can only ever
  * be band-gated, because its xxhash64/bias-correction internals have
  * no DuckDB counterpart).
  *
  * Shape: a TypedImperativeAggregate whose buffer IS the m-register
  * array (one byte per register, m = 2^p). Each input id contributes
  * `registers[bucket] = max(registers[bucket], rho)` — max is
  * idempotent, so duplicates are free and partial buffers merge
  * register-wise across the exchange (the defining HLL property:
  * sketch(A ∪ B) = max(sketch(A), sketch(B))). One corpus scan, one
  * m-byte buffer per map partition per group — at 100 TB the distinct
  * count costs a constant-size shuffle instead of q08's
  * shuffle-the-distinct-keys expand.
  *
  * The hash is md5, NOT xxhash/Murmur, for the same reason as
  * CmsAggregate: both engines own an identical md5, so the DuckDB
  * oracle replays every register — and therefore the register sum and
  * the final estimate — bit-for-bit. Derivation per key (a STRING —
  * integer callers render decimally, exactly what CAST(... AS VARCHAR)
  * / concat_ws produce; all arithmetic on hex-digit integers, no
  * floats):
  *   hx     = md5(key)                              -- 32 hex digits
  *   bucket = int(hx[0..5)) % m                     -- 20 bits, mod 2^p
  *   w      = int(hx[5..13))                        -- 32 bits
  *   rho    = numberOfLeadingZeros32(w) + 1         -- in [1, 33]
  * The estimator downstream is the raw HLL formula
  * alpha_m * m^2 / sum(2^-M_j), carried as the INTEGER
  * `sum(2^(33 - M_j))` (exact in a BIGINT: <= m * 2^33) so both
  * engines divide the same two numbers; see the q08c registry entry.
  * RAW formula only: it is unbiased for n >~ 2.5m, so callers must
  * pick p small enough for their cardinality floor (q08c: p=8, pair
  * keys — thousands of distinct pairs per group at every test SF).
  * The small-range regime would need linear counting, whose ln() is
  * libm-dependent and therefore NOT cross-engine replayable; the
  * zero-register count is in the output so a consumer can apply it.
  *
  * Flajolet et al. 2007 (the HLL paper); reference has no sketches —
  * its nearest analog is row-count logging (fileloader.go:300).
  */
case class HllAggregate(
    child: Expression,
    p: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  require(p >= 4 && p <= 16, s"hll_sketch: p must be in [4,16], got $p")
  private val m = 1 << p

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val (bucket, rho) = Hll.bucketRho(v.toString, m)
      if (rho > buf(bucket)) buf(bucket) = rho.toByte
    }
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < a.length) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Byte]): Any =
    new GenericArrayData(buf.map(_.toInt))

  override def serialize(buf: Array[Byte]): Array[Byte] = buf

  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): HllAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllAggregate =
    copy(child = newChildren(0))
  override def prettyName: String = "hll_sketch"
}

object Hll {
  import org.apache.spark.sql.GraftBridge

  /** `hll_sketch(id)` aggregate column: the m = 2^p register array. */
  def hllSketch(id: Column, p: Int): Column =
    GraftBridge.toColumn(HllAggregate(
      GraftBridge.toExpression(id), p).toAggregateExpression())

  /** Integer register sum Σ 2^(33−M_j) over a collected register
    * array — exact in a BIGINT (≤ m·2^33); zero registers contribute
    * 2^33. The single definition q08d/q08e/the sketch gate share. */
  private[graft] def regSum(regs: Seq[Int]): Long =
    regs.foldLeft(0L)((a, m) => a + (1L << (33 - m)))

  /** [[regSum]] as a native Column over an ARRAY<INT> register column —
    * the same Σ 2^(33−M_j) fold, inside codegen. Bits come from the SQL
    * `shiftleft` (via call_function — the Scala `shiftleft` only takes
    * literal bit counts), matching the oracle's
    * `shiftleft(CAST(1 AS BIGINT), 33 - x)` token-for-token. */
  private[graft] def regSumCol(regs: Column): Column = {
    import org.apache.spark.sql.functions.{aggregate, call_function, lit}
    aggregate(regs, lit(0L), (acc, x) =>
      acc + call_function("shiftleft", lit(1L), lit(33) - x))
  }

  /** Register-wise max of two register arrays — the sketch of the
    * UNION (the defining HLL identity), as a native zip_with so the
    * set algebra runs inside the plan, never on the driver. */
  private[graft] def maxMerge(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.{greatest, zip_with}
    zip_with(a, b, (x, y) => greatest(x, y))
  }

  /** DISTRIBUTED pairwise set algebra over a per-group sketch table
    * `(key, regs)`: every unordered pair (key_a < key_b) with the
    * integer register sums of a, b, and a∪b. This is the operator's
    * 100 TB shape — with n per-source sketches, the n²/2 pair algebra
    * is |sketch-table|²·m bytes of ARITHMETIC inside the plan (the
    * sketch side broadcasts; each executor streams its slice of the
    * pair grid), never an n² driver loop. Estimates follow from the
    * sums via [[rawEstimate]] + inclusion–exclusion (q08d). */
  def pairUnions(sk: org.apache.spark.sql.DataFrame, key: String,
      regs: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    // the self-join references the sketch AGGREGATE twice; a lazy
    // localCheckpoint materializes the (tiny) sketch table on first
    // touch so the corpus-sized sketch scan runs ONCE, not per side —
    // blocks are freed by the ContextCleaner when the plan is GC'd.
    //
    // Round 17: the checkpointed subtree is PLANNED with AQE off.
    // Under AQE, Dataset.localCheckpoint(eager=false) is lazy in name
    // only — its toRdd call runs AdaptiveSparkPlanExec's stage loop, so
    // the whole corpus-sized sketch aggregate executed at DataFrame
    // CONSTRUCTION, serially, before the consuming query's own stages
    // could start (QProf: ~0.5 s of q08d's wall inside "build").
    // Planned statically the RDD really is lazy: the sketch aggregate
    // runs inside the first consuming job (the broadcast exchange of
    // side a), overlapping the consumer's other subtrees (q08d's exact
    // audit). AQE buys nothing for this subplan anyway — it is a
    // straight scan → partial agg → exchange → final agg with no join
    // to re-strategize and a rows-per-key-bounded output. The conf
    // flip is planning-scoped (set → plan → restore); bench/verify
    // construct queries single-threaded.
    val skM = graft.Tables.pinLazy(sk)
    // per-key sums fold ONCE per key before the join; only the union
    // fold is per-pair work
    val a = skM.select(col(key).as("key_a"), col(regs).as("regs_a"),
      regSumCol(col(regs)).as("reg_sum_a"))
    val b = skM.select(col(key).as("key_b"), col(regs).as("regs_b"),
      regSumCol(col(regs)).as("reg_sum_b"))
    broadcast(a).join(b, col("key_a") < col("key_b"))
      .select(col("key_a"), col("key_b"),
        col("reg_sum_a"), col("reg_sum_b"),
        regSumCol(maxMerge(col("regs_a"), col("regs_b")))
          .as("reg_sum_union"))
  }

  /** DISTRIBUTED sliding-window set algebra over a per-MONTH sketch
    * table `(period, regs)` (period = a month-truncated date column;
    * the window steps by add_months): for every window of `w` consecutive months that
    * are ALL present (inner semantics — windows running past either
    * end of the data are dropped), the integer register sum of the
    * window union. Shape: each period row explodes into the ≤ w
    * windows containing it (w× a TINY table, not the corpus), register
    * positions max-merge per (window, pos) in one partial-agged
    * shuffle, and the per-window sum folds in a second — window-length
    * changes are free because the algebra never rescans the corpus.
    * Register-position explosion keeps the whole path native (no
    * collect): w·m rows per period, still sketch-table-sized. */
  def slidingUnion(sk: org.apache.spark.sql.DataFrame, period: String,
      regs: String, w: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    require(w >= 1, s"slidingUnion: window must be >= 1 period, got $w")
    val memb = sk.select(
      explode(array((0 until w).map(k =>
        add_months(col(period), -k)): _*)).as("w_start"),
      col(regs).as("regs"))
    memb
      .select(col("w_start"), posexplode(col("regs")).as(Seq("pos", "r")))
      .groupBy(col("w_start"), col("pos"))
      // n_at_pos counts member periods (each contributes one r per pos)
      .agg(max(col("r")).as("mr"), count(lit(1)).as("n_at_pos"))
      .groupBy(col("w_start"))
      .agg(expr("sum(shiftleft(CAST(1 AS BIGINT), 33 - mr))")
          .as("reg_sum_union"),
        max(col("n_at_pos")).as("n_periods"))
      .filter(col("n_periods") === w)
      .select(col("w_start"), col("reg_sum_union"))
  }

  /** The raw HLL estimate as a Column over a BIGINT regSum — the
    * LITERAL float expression both engines evaluate identically (see
    * q08c's oracle): alpha_m · m² · 2^33 / regSum, every constant
    * exact in a double for m a power of two. */
  private[graft] def rawEstimate(regSumCol: Column, m: Int): Column = {
    import org.apache.spark.sql.functions.lit
    lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble)) *
      lit(m.toDouble * m.toDouble * 8589934592.0) / regSumCol.cast("double")
  }

  /** Scalar form of [[rawEstimate]] — same operations in the same
    * order, for driver-side audits (the sketch scale gate). */
  private[graft] def rawEstimate(regSum: Long, m: Int): Double =
    0.7213 / (1.0 + 1.079 / m.toDouble) *
      (m.toDouble * m.toDouble * 8589934592.0) / regSum.toDouble

  /** The (bucket, rho) derivation shared by the batch aggregate and
    * the streaming register state (SketchStream.hllRegisters): bucket
    * from hex digits 1..5 (bytes 0, 1 and the high nibble of 2) mod m;
    * rho = leading zeros + 1 of hex digits 6..13 (low nibble of byte 2
    * through the high nibble of byte 6; w == 0 ⇒ 33). */
  private[graft] def bucketRho(key: String, m: Int): (Int, Int) = {
    val dig = Md5.digest(key)
    val v20 = ((dig(0) & 0xff) << 12) | ((dig(1) & 0xff) << 4) | ((dig(2) & 0xf0) >>> 4)
    val w = ((dig(2) & 0x0f) << 28) | ((dig(3) & 0xff) << 20) |
      ((dig(4) & 0xff) << 12) | ((dig(5) & 0xff) << 4) | ((dig(6) & 0xf0) >>> 4)
    (v20 % m, Integer.numberOfLeadingZeros(w) + 1)
  }
}
