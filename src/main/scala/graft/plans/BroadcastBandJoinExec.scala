package graft.plans

import graft.plans.TimeJoinExec.Join
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.execution.SparkPlan

/** Broadcast band join: [[BandJoinExec]]'s semantics with
  * [[BroadcastAsofJoinExec]]'s plan shape — the small build side ships
  * to every executor and the PROBE SIDE IS NEVER SHUFFLED OR SORTED.
  * The per-key sorted-times index is the SAME structure the broadcast
  * as-of builds (and shares its memo, keyed by broadcast id + key
  * exprIds + time ordinal); a probe binary-searches the band's lower
  * edge and emits every row up to the upper edge, or one null-build
  * row when the band is empty. */
case class BroadcastBandJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTime: Attribute,
    rightTime: Attribute,
    lowUs: Long,
    highUs: Long) extends BroadcastTimeJoinExec[BroadcastBandProbe] {

  protected def kind: String = "band"

  protected def probeClass: Class[BroadcastBandProbe] = classOf[BroadcastBandProbe]

  protected def newProbe: BroadcastAsofJoinExec.Index => BroadcastBandProbe = {
    val (nRight, lo, hi) = (right.output.size, lowUs, highUs)
    index => new BroadcastBandProbe(index, nRight, lo, hi)
  }

  protected def emitRows: (Iterator[InternalRow], BroadcastBandProbe,
      InternalRow => InternalRow, Int, Join) => Iterator[InternalRow] =
    (lIter, probe, key, lTimeIdx, join) => new Iterator[InternalRow] {
      // the probe row stays valid until the next lIter.next(), and
      // its whole band emits before that — no copies anywhere
      private var l: InternalRow = _
      private var idx = 0
      private var end = 0

      override def hasNext: Boolean = idx < end || lIter.hasNext

      override def next(): InternalRow = {
        if (idx < end) {
          val r = probe.row(idx); idx += 1
          return join(l, r)
        }
        l = lIter.next()
        val n = probe.find(key(l), l.getLong(lTimeIdx))
        if (n == 0) join(l, probe.nullRow)
        else {
          idx = 1; end = n
          join(l, probe.row(0))
        }
      }
    }

  // the band slice emits through a do/while so the consume body is
  // generated ONCE: n == 0 ⇒ it runs once with the null row
  // (left-outer); otherwise it walks the slice
  protected def probeCode(ctx: CodegenContext, probe: String,
      prelude: String, key: String, time: String, matched: String,
      numOutput: String, consumed: => String): String = {
    val n = ctx.freshName("bandN")
    val i = ctx.freshName("bandI")
    s"""
       |$prelude
       |int $n = $probe.find($key, $time);
       |int $i = 0;
       |do {
       |  $matched = ($n == 0) ? $probe.nullRow() : $probe.row($i);
       |  $i++;
       |  $numOutput.add(1);
       |  $consumed
       |} while ($i < $n);
     """.stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastBandJoinExec =
    copy(left = newLeft, right = newRight)
}
