package graft.plans

import graft.plans.TimeJoinExec.{Join, RowClass}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.execution.SparkPlan

/** The compiled per-partition state machine behind both the iterator
  * and the whole-stage-codegen paths of [[BandJoinExec]]: holds the
  * build-side iterator and the sliding band deque, and answers one
  * probe row at a time. Public (not nested) because generated Java
  * instantiates and calls it by name. */
final class BandScanner(
    rIter: Iterator[InternalRow],
    lKeyProj: UnsafeProjection,
    rKeyProj: UnsafeProjection,
    keyOrd: Ordering[InternalRow],
    lTimeIdx: Int,
    rTimeIdx: Int,
    nRightCols: Int,
    nRightKeys: Int,
    lo: Long,
    hi: Long) {

  // the band: copies of build rows with bufKey's key, times within
  // [lastProbeTime + lo, lastProbeTime + hi]; fronts evict as the
  // lower edge passes, backs append as the upper edge arrives — each
  // build row is copied at most once per key
  private val buf = new java.util.ArrayDeque[InternalRow]()
  private var bufKey: InternalRow = _
  private val bufKeyBuf = {
    val r = new UnsafeRow(nRightKeys)
    r.pointTo(new Array[Byte](64), 64); r
  }
  private var head: InternalRow = _
  private var headKey: InternalRow = _

  /** The shared all-null build row the caller emits for probes whose
    * band is empty (the operator is left-outer). */
  val nullRow: InternalRow = new GenericInternalRow(nRightCols)

  advance()

  private def advance(): Unit =
    if (rIter.hasNext) {
      head = rIter.next()
      headKey = rKeyProj(head)
    } else { head = null; headKey = null }

  /** Rebuild the band for probe `l` and return an iterator over the
    * matching build rows (empty ⇒ the caller emits [[nullRow]]). The
    * returned iterator is valid until the next `feed`. */
  def feed(l: InternalRow): java.util.Iterator[InternalRow] = {
    val lKey = lKeyProj(l)
    val lTime = l.getLong(lTimeIdx)
    if (bufKey == null || keyOrd.compare(bufKey, lKey) != 0) {
      buf.clear()
      lKey match {
        case u: UnsafeRow => bufKeyBuf.copyFrom(u); bufKey = bufKeyBuf
        case other => bufKey = other.copy()
      }
    }
    // evict below the lower edge (probe times only grow per key)
    while (!buf.isEmpty &&
        buf.peekFirst().getLong(rTimeIdx) < lTime + lo)
      buf.removeFirst()
    // consume build rows: skip passed keys, append rows at or under
    // the upper edge (pre-lower-edge rows can never match a later
    // probe either — times only grow — so skip them)
    var scan = head != null
    while (scan) {
      val c = keyOrd.compare(headKey, bufKey)
      if (c < 0) advance()
      else if (c == 0 && head.getLong(rTimeIdx) <= lTime + hi) {
        if (head.getLong(rTimeIdx) >= lTime + lo) buf.addLast(head match {
          case u: UnsafeRow => u.copy()
          case other => other.copy()
        })
        advance()
      } else scan = false
      scan = scan && head != null
    }
    buf.iterator()
  }
}

/** Banded (interval) join as a native operator — [[AsofJoinExec]]
  * generalized from "the single latest build row" to "every build row
  * within [probeTime + lowUs, probeTime + highUs]", left-outer (a
  * probe with no band match emits one null-build row).
  *
  * Why: expressed relationally (ev07's shape) a band predicate rides
  * an equi-join as a residual filter, which executes as a per-key
  * candidate PRODUCT — every probe × every build row of that key,
  * filtered after the fact. Fine when keys are small; quadratic the
  * moment one key carries volume. The native merge is O(input +
  * output): both sides arrive (key, time)-sorted and co-partitioned
  * (the as-of contract), a ring buffer holds exactly the build rows
  * inside the current probe's band — rows evict from the front as the
  * band's lower edge passes them and append at the back as the upper
  * edge reaches them, each build row entering and leaving ONCE per
  * key. State is band occupancy (width × arrival rate), never the
  * key's full history. Probe partitioning and ordering survive, as
  * with the as-of operator.
  */
case class BandJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTime: Attribute,
    rightTime: Attribute,
    lowUs: Long,
    highUs: Long,
    isSkewJoin: Boolean = false) extends MergeTimeJoinExec[BandScanner] {

  protected def kind: String = "band"

  protected def scannerClass: Class[BandScanner] = classOf[BandScanner]

  protected def newScanner: (Iterator[InternalRow], UnsafeProjection,
      UnsafeProjection, Ordering[InternalRow]) => BandScanner = {
    val (lIdx, rIdx) = (lTimeIdx, rTimeIdx)
    val (nRight, nKeys) = (right.output.size, rightKeys.size)
    val (lo, hi) = (lowUs, highUs)
    (rIter, lKeyProj, rKeyProj, keyOrd) => new BandScanner(rIter, lKeyProj,
      rKeyProj, keyOrd, lIdx, rIdx, nRight, nKeys, lo, hi)
  }

  protected def emitRows: (Iterator[InternalRow], BandScanner, Join) =>
      Iterator[InternalRow] = {
    val lSize = left.output.size
    (lIter, scanner, join) => new Iterator[InternalRow] {
      // probe row pinned across its multi-row emission (sorter rows
      // are valid only until the next lIter.next())
      private val lBuf = {
        val r = new UnsafeRow(lSize)
        r.pointTo(new Array[Byte](64), 64); r
      }
      private var emitLeft: InternalRow = _
      private var emit: java.util.Iterator[InternalRow] = _

      override def hasNext: Boolean =
        (emit != null && emit.hasNext) || lIter.hasNext

      override def next(): InternalRow = {
        if (emit != null && emit.hasNext)
          return join(emitLeft, emit.next())
        // pull the next probe and rebuild its band
        val l = lIter.next()
        val matches = scanner.feed(l)
        l match {
          case u: UnsafeRow => lBuf.copyFrom(u); emitLeft = lBuf
          case other => emitLeft = other.copy()
        }
        if (!matches.hasNext) {
          emit = null
          join(emitLeft, scanner.nullRow)
        } else {
          emit = matches
          join(emitLeft, emit.next())
        }
      }
    }
  }

  // One output row per generated-loop iteration so shouldStop() can
  // return with all state in fields.
  protected def probeLoop(ctx: CodegenContext, leftInput: String,
      scanner: String): (String, String, String, String) => String = {
    val matchIter = ctx.addMutableState("java.util.Iterator", "bandMatches")
    (leftRow, rightRow, numOutput, consumed) =>
      s"""
         |while (true) {
         |  if ($matchIter != null && $matchIter.hasNext()) {
         |    $rightRow = ($RowClass) $matchIter.next();
         |  } else if ($leftInput.hasNext()) {
         |    $leftRow = ($RowClass) $leftInput.next();
         |    $matchIter = $scanner.feed($leftRow);
         |    if ($matchIter.hasNext()) {
         |      $rightRow = ($RowClass) $matchIter.next();
         |    } else {
         |      $matchIter = null;
         |      $rightRow = $scanner.nullRow();
         |    }
         |  } else {
         |    break;
         |  }
         |  $numOutput.add(1);
         |  $consumed
         |  if (shouldStop()) return;
         |}
       """.stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BandJoinExec =
    copy(left = newLeft, right = newRight)
}
