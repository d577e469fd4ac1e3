package graft.plans

import graft.plans.TimeJoinExec.Join
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, GenericInternalRow,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.execution.SparkPlan

/** Broadcast as-of join: the small build side ships to every executor
  * and the PROBE SIDE IS NEVER SHUFFLED OR SORTED — the plan the merge
  * variant cannot give you, and the one that matters at 100 TB: an
  * event stream joined as-of against a small dimension (exchange
  * rates, calibration tables, config history) with zero exchanges on
  * the stream. `requiredChildDistribution` asks only for a
  * `BroadcastDistribution(IdentityBroadcastMode)` on the right;
  * probe-side partitioning AND ordering pass through untouched.
  *
  * Per executor the broadcast rows index into {key → (sorted times,
  * rows)}; each probe is a hash lookup + binary search for the
  * greatest build time at-or-before the probe time. The index is
  * memoized per broadcast id (small LRU) so the thousands of tasks a
  * 100 TB scan schedules don't each rebuild it.
  *
  * Same semantics as [[AsofJoinExec]], including the null-key and
  * equal-(key,time) caveats documented there.
  */
case class BroadcastAsofJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTime: Attribute,
    rightTime: Attribute,
    direction: String = "backward",
    toleranceUs: Long = -1L) extends BroadcastTimeJoinExec[BroadcastAsofProbe] {

  private val forward = Asof.isForward(direction)

  protected def kind: String = "asof"

  protected def probeClass: Class[BroadcastAsofProbe] = classOf[BroadcastAsofProbe]

  protected def newProbe: BroadcastAsofJoinExec.Index => BroadcastAsofProbe = {
    val (nRight, fwd, tol) = (right.output.size, forward, toleranceUs)
    index => new BroadcastAsofProbe(index, nRight, fwd, tol)
  }

  protected def emitRows: (Iterator[InternalRow], BroadcastAsofProbe,
      InternalRow => InternalRow, Int, Join) => Iterator[InternalRow] =
    (lIter, probe, key, lTimeIdx, join) =>
      lIter.map(l => join(l, probe.lookup(key(l), l.getLong(lTimeIdx))))

  // one output row per probe
  protected def probeCode(ctx: CodegenContext, probe: String,
      prelude: String, key: String, time: String, matched: String,
      numOutput: String, consumed: => String): String =
    s"""
       |$prelude
       |$matched = $probe.lookup($key, $time);
       |$numOutput.add(1);
       |$consumed
     """.stripMargin

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsofJoinExec =
    copy(left = newLeft, right = newRight)
}

object BroadcastAsofJoinExec {
  // Per-JVM memo of built indexes: every task of a stage shares one
  // build. Keyed by (broadcast id, right-key exprIds, time ordinal) —
  // not broadcast id alone — because ReuseExchange may share one
  // exchange across differently-bound as-of operators. Bounded LRU (8)
  // so repeated executions in a long session can't accumulate executor
  // memory — each entry is small by the broadcast threshold's own
  // definition.
  private type MemoKey = (Long, Seq[Long], Int)
  /** key → (sorted times, rows) over one broadcast. */
  type Index = java.util.HashMap[InternalRow, (Array[Long], Array[InternalRow])]

  private val indexes = new java.util.LinkedHashMap[MemoKey, AnyRef](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[MemoKey, AnyRef]): Boolean =
      size() > 8
  }

  private[plans] def indexFor(
      id: MemoKey,
      build: => Index): Index =
    indexes.synchronized {
      indexes.get(id) match {
        case null =>
          val built = build
          indexes.put(id, built)
          built
        case hit =>
          hit.asInstanceOf[Index]
      }
    }

  /** The {key → (sorted times, rows)} index both broadcast operators
    * (and both their execution paths) build from the broadcast rows. */
  private[plans] def buildIndex(
      rows: Array[InternalRow], rKeyProj: UnsafeProjection, rTimeIdx: Int)
      : Index = {
    val grouped = new java.util.HashMap[InternalRow,
      scala.collection.mutable.ArrayBuffer[(Long, InternalRow)]]()
    rows.foreach { r =>
      val k = rKeyProj(r).copy()
      var buf = grouped.get(k)
      if (buf == null) {
        buf = new scala.collection.mutable.ArrayBuffer[(Long, InternalRow)]
        grouped.put(k, buf)
      }
      buf += ((r.getLong(rTimeIdx), r))
    }
    val out = new Index(grouped.size * 2)
    grouped.forEach { (k, buf) =>
      val sorted = buf.sortBy(_._1)
      out.put(k, (sorted.map(_._1).toArray, sorted.map(_._2).toArray))
    }
    out
  }
}

/** Compiled per-stage probe behind the broadcast as-of's generated
  * code: holds the memoized {key → (sorted times, rows)} index and
  * answers one probe at a time. Public because generated Java
  * instantiates and calls it by name. */
final class BroadcastAsofProbe(
    index: BroadcastAsofJoinExec.Index,
    nRightCols: Int, fwd: Boolean, tol: Long) {

  val nullRow: InternalRow = new GenericInternalRow(nRightCols)

  /** The matched build row for (key, time), or [[nullRow]]. */
  def lookup(key: InternalRow, lTime: Long): InternalRow = {
    val entry = index.get(key) // UnsafeRow equals is by bytes
    if (entry == null) return nullRow
    val (times, rows) = entry
    // backward: rightmost index with times(i) <= lTime;
    // forward: leftmost index with times(i) >= lTime
    var lo = 0
    var hi = times.length - 1
    var found = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (if (fwd) times(mid) >= lTime else times(mid) <= lTime) {
        found = mid
        if (fwd) hi = mid - 1 else lo = mid + 1
      } else {
        if (fwd) lo = mid + 1 else hi = mid - 1
      }
    }
    if (found < 0 || (tol >= 0 &&
        math.abs(times(found) - lTime) > tol)) nullRow
    else rows(found)
  }
}

/** [[BroadcastAsofProbe]]'s band twin: `find` binary-searches the
  * band's slice and returns its length (0 ⇒ caller emits one
  * [[nullRow]]); `row(i)` reads the slice without allocating an
  * iterator per probe. */
final class BroadcastBandProbe(
    index: BroadcastAsofJoinExec.Index,
    nRightCols: Int, lo: Long, hi: Long) {

  val nullRow: InternalRow = new GenericInternalRow(nRightCols)
  private var rows: Array[InternalRow] = _
  private var first = 0

  /** Locate [lTime + lo, lTime + hi] in key's sorted times; returns
    * the match count and pins the slice for [[row]]. */
  def find(key: InternalRow, lTime: Long): Int = {
    val entry = index.get(key)
    if (entry == null) return 0
    val (ts, rs) = entry
    // leftmost index with ts(i) >= lTime + lo
    var loI = 0
    var hiI = ts.length - 1
    var f = ts.length
    while (loI <= hiI) {
      val mid = (loI + hiI) >>> 1
      if (ts(mid) >= lTime + lo) { f = mid; hiI = mid - 1 }
      else loI = mid + 1
    }
    var e = f
    while (e < ts.length && ts(e) <= lTime + hi) e += 1
    rows = rs
    first = f
    e - f
  }

  def row(i: Int): InternalRow = rows(first + i)
}
