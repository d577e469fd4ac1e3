package graft.plans

import graft.plans.TimeJoinExec.{Join, RowClass}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.LongType

/** The compiled per-partition merge state behind both the iterator and
  * the whole-stage-codegen paths of [[AsofJoinExec]]: holds the build
  * iterator, the single retained candidate, and answers one probe row
  * at a time with the matched build row (or the shared null row).
  * Carries BOTH key paths — single-Long primitives (the dominant
  * shape: user_id, doc_id — no per-row key projection or ordering
  * object) and the generic projection+ordering path. Public (not
  * nested) because generated Java instantiates and calls it by name.
  *
  * Row lifetimes: `head` stays UNCOPIED — a sorter row is valid until
  * the next rIter.next(), and the scanner never advances while the
  * caller still holds a returned `head` (forward matches are consumed
  * before the next feed). Retention (backward) goes through two REUSED
  * UnsafeRow buffers (`copyFrom` grows once, then memcpys) — the merge
  * allocates nothing per row in steady state. */
final class AsofScanner(
    rIter: Iterator[InternalRow],
    lKeyProj: UnsafeProjection,
    rKeyProj: UnsafeProjection,
    keyOrd: Ordering[InternalRow],
    lKeyIdx: Int, rKeyIdx: Int,
    lTimeIdx: Int, rTimeIdx: Int,
    nRightCols: Int, nRightKeys: Int,
    fwd: Boolean, tol: Long) {

  /** The shared all-null build row for unmatched probes (left-outer). */
  val nullRow: InternalRow = new GenericInternalRow(nRightCols)

  // single-Long fast path iff both key ordinals resolved
  private val fast = lKeyIdx >= 0 && rKeyIdx >= 0

  private var head: InternalRow = _
  private var headKey: InternalRow = _ // generic path
  private var hNull = false // fast path: key held as (isNull, Long)
  private var hKey = 0L

  // retained backward candidate
  private var hasM = false
  private var matched: InternalRow = _
  private var matchedKey: InternalRow = _ // generic
  private var mNull = false // fast
  private var mKey = 0L
  private var mTime = 0L
  // copyFrom targets must be byte[]-backed; they regrow on demand
  private val matchedBuf = {
    val r = new UnsafeRow(nRightCols)
    r.pointTo(new Array[Byte](64), 64); r
  }
  private val matchedKeyBuf = {
    val r = new UnsafeRow(nRightKeys)
    r.pointTo(new Array[Byte](64), 64); r
  }

  advance()

  private def advance(): Unit =
    if (rIter.hasNext) {
      head = rIter.next()
      if (fast) {
        hNull = head.isNullAt(rKeyIdx)
        hKey = if (hNull) 0L else head.getLong(rKeyIdx)
      } else headKey = rKeyProj(head)
    } else { head = null; headKey = null }

  // null keys order first and match each other — the natural
  // ordering's placement, mirrored by the generic keyOrd
  private def cmpFast(an: Boolean, a: Long, bn: Boolean, b: Long): Int =
    if (an && bn) 0 else if (an) -1 else if (bn) 1
    else java.lang.Long.compare(a, b)

  private def retain(): Unit = {
    head match {
      case u: UnsafeRow => matchedBuf.copyFrom(u); matched = matchedBuf
      case other => matched = other.copy()
    }
    if (fast) { mNull = hNull; mKey = hKey }
    else headKey match {
      case u: UnsafeRow => matchedKeyBuf.copyFrom(u); matchedKey = matchedKeyBuf
      case other => matchedKey = other.copy()
    }
    mTime = matched.getLong(rTimeIdx)
    hasM = true
  }

  /** Advance the merge to probe `l` and return its matched build row,
    * or [[nullRow]]. The returned row is valid until the next feed. */
  def feed(l: InternalRow): InternalRow = {
    val lTime = l.getLong(lTimeIdx)
    if (fast) {
      val lNull = l.isNullAt(lKeyIdx)
      val lKey = if (lNull) 0L else l.getLong(lKeyIdx)
      if (fwd) {
        // forward: drop passed keys and same-key rows strictly before
        // lTime (later probes' times only grow), match = the head
        // itself — NO retention, zero copies ever
        var c = 1
        var scan = head != null
        while (scan) {
          c = cmpFast(hNull, hKey, lNull, lKey)
          if (c < 0 || (c == 0 && head.getLong(rTimeIdx) < lTime)) {
            advance(); scan = head != null
          } else scan = false
        }
        if (head != null && c == 0 &&
          (tol < 0 || head.getLong(rTimeIdx) - lTime <= tol)) head
        else nullRow
      } else {
        if (hasM && cmpFast(mNull, mKey, lNull, lKey) != 0) hasM = false
        var scan = head != null
        while (scan) {
          val c = cmpFast(hNull, hKey, lNull, lKey)
          if (c < 0) advance() // passed key: can never match again
          else if (c == 0 && head.getLong(rTimeIdx) <= lTime) {
            retain(); advance()
          } else scan = false
          scan = scan && head != null
        }
        if (hasM && (tol < 0 || lTime - mTime <= tol)) matched else nullRow
      }
    } else {
      val lKey = lKeyProj(l) // transient: compared before the next proj call
      if (fwd) {
        var c = 1
        var scan = head != null
        while (scan) {
          c = keyOrd.compare(headKey, lKey)
          if (c < 0 || (c == 0 && head.getLong(rTimeIdx) < lTime)) {
            advance(); scan = head != null
          } else scan = false
        }
        if (head != null && c == 0 &&
          (tol < 0 || head.getLong(rTimeIdx) - lTime <= tol)) head
        else nullRow
      } else {
        if (hasM && keyOrd.compare(matchedKey, lKey) != 0) hasM = false
        var scan = head != null
        while (scan) {
          val c = keyOrd.compare(headKey, lKey)
          if (c < 0) advance()
          else if (c == 0 && head.getLong(rTimeIdx) <= lTime) {
            retain(); advance()
          } else scan = false
          scan = scan && head != null
        }
        if (hasM && (tol < 0 || lTime - mTime <= tol)) matched else nullRow
      }
    }
  }
}

/** Physical as-of join: a single-pass sorted merge per co-partitioned
  * pair of partitions.
  *
  * Contract with the planner (EnsureRequirements supplies both):
  *  - each side hash-clustered on its keys (the two
  *    `ClusteredDistribution`s are co-partitioned exactly as a
  *    sort-merge join's are);
  *  - each side sorted by (keys…, time) ascending.
  *
  * The merge then never looks back: probe rows arrive in (key, time)
  * order, the build iterator advances monotonically, and the only
  * retained state is the one candidate row for the probe's current
  * key — O(1) memory per partition regardless of corpus size, no spill
  * surface beyond the sorts the planner already owns. Build rows with
  * keys the probe stream has passed are discarded unexamined (probe
  * keys only grow), so a partition is one forward scan of each side.
  *
  * Determinism: among build rows sharing (key, time) the LAST in sort
  * order wins, which is engine-ambiguous — callers must pre-reduce the
  * build side to one row per (key, time), as ev08/ev08b do with
  * `max(event_id)`. Time columns are required to be LongType (unix
  * micros — `unix_micros` upstream), matching the engine-wide event
  * time convention. NULL keys follow the natural ordering, not SQL
  * equality: they sort first and match EACH OTHER (both the generic
  * ordering path and the single-Long fast path, spec-pinned) — filter
  * null keys upstream when SQL join semantics are wanted.
  *
  * Scale: identical exchange count to the ev08 union+window form (one
  * hash exchange + one sort per side) but the probe side's
  * partitioning/ordering survive the operator (`outputPartitioning` /
  * `outputOrdering`), so a downstream per-key aggregate or a second
  * as-of against the same keys adds ZERO exchanges.
  *
  * Whole-stage codegen: the probe loop runs inside the generated stage
  * (SortMergeJoin arrangement — the build side stays an iterator
  * behind [[AsofScanner]], which also backs the iterator path).
  * One output row per probe, so the loop is trivially
  * shouldStop()-safe.
  */
case class AsofJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTime: Attribute,
    rightTime: Attribute,
    direction: String = "backward",
    toleranceUs: Long = -1L,
    isSkewJoin: Boolean = false) extends MergeTimeJoinExec[AsofScanner] {

  private val forward = Asof.isForward(direction)

  protected def kind: String = "asof"

  protected def scannerClass: Class[AsofScanner] = classOf[AsofScanner]

  protected def newScanner: (Iterator[InternalRow], UnsafeProjection,
      UnsafeProjection, Ordering[InternalRow]) => AsofScanner = {
    val (lIdx, rIdx) = (lTimeIdx, rTimeIdx)
    val (nRight, nKeys) = (right.output.size, rightKeys.size)
    val fwd = forward
    val tol = toleranceUs
    // single-Long-key fast path (the dominant shape: user_id, doc_id)
    val fastLongKey = leftKeys.map(_.dataType) == Seq(LongType)
    val lKeyIdx = if (fastLongKey)
      left.output.indexWhere(_.exprId == leftKeys.head.exprId) else -1
    val rKeyIdx = if (fastLongKey)
      right.output.indexWhere(_.exprId == rightKeys.head.exprId) else -1
    (rIter, lKeyProj, rKeyProj, keyOrd) => new AsofScanner(rIter, lKeyProj,
      rKeyProj, keyOrd, lKeyIdx, rKeyIdx, lIdx, rIdx, nRight, nKeys, fwd, tol)
  }

  protected def emitRows: (Iterator[InternalRow], AsofScanner, Join) =>
      Iterator[InternalRow] = (lIter, scanner, join) =>
    lIter.map(l => join(l, scanner.feed(l)))

  protected def probeLoop(ctx: CodegenContext, leftInput: String,
      scanner: String): (String, String, String, String) => String =
    (leftRow, rightRow, numOutput, consumed) =>
      s"""
         |while ($leftInput.hasNext()) {
         |  $leftRow = ($RowClass) $leftInput.next();
         |  $rightRow = ($RowClass) $scanner.feed($leftRow);
         |  $numOutput.add(1);
         |  $consumed
         |  if (shouldStop()) return;
         |}
       """.stripMargin

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}
