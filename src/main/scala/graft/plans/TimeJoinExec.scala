package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  BindReferences, BoundReference, Expression, JoinedRow, RowOrdering,
  SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution,
  ClusteredDistribution, Distribution, IdentityBroadcastMode, Partitioning,
  UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** The skeleton shared by the four time-join operators, in the way
  * Spark's `BaseJoinExec` serves its joins: left-outer output (probe
  * columns, then nullable build columns), the probe side's
  * partitioning, the `numOutputRows` metric, the time ordinals and the
  * argument checks. [[MergeTimeJoinExec]] and [[BroadcastTimeJoinExec]]
  * add the two plan shapes; each exec keeps only its scanner or probe
  * and its emit loop. */
trait TimeJoinExec extends BinaryExecNode with CodegenSupport {
  def leftKeys: Seq[Attribute]
  def rightKeys: Seq[Attribute]
  def leftTime: Attribute
  def rightTime: Attribute

  /** "asof" or "band": names the join in argument errors and prefixes
    * its generated state. */
  protected def kind: String

  require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
    s"$kind join needs matching non-empty key lists")
  require(leftKeys.map(_.dataType) == rightKeys.map(_.dataType),
    s"$kind key types differ: ${leftKeys.map(_.dataType)} vs ${rightKeys.map(_.dataType)}")
  require(TimeJoin.timeTypeOk(leftTime.dataType) &&
      TimeJoin.timeTypeOk(rightTime.dataType),
    s"$kind time columns must be BIGINT micros or a timestamp type")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] =
    Map("numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def needCopyResult: Boolean = true

  protected def lTimeIdx: Int = {
    val i = left.output.indexWhere(_.exprId == leftTime.exprId)
    require(i >= 0, "probe time attribute not in child output"); i
  }
  protected def rTimeIdx: Int = {
    val i = right.output.indexWhere(_.exprId == rightTime.exprId)
    require(i >= 0, "build time attribute not in child output"); i
  }

  /** Executor-side factory of the iterator paths' output row over
    * (probe row, build row or the all-null row). The projection binds
    * against `output`, whose build columns are NULLABLE — binding
    * against the child's raw attributes would compile away the null
    * checks and read zeros out of the all-null unmatched row. */
  protected def joinedRows: () => TimeJoinExec.Join = {
    val out = output
    () => {
      val proj = UnsafeProjection.create(out, out)
      val joined = new JoinedRow
      (l, r) => proj(joined(l, r))
    }
  }
}

private[plans] object TimeJoinExec {
  /** The generated-code type every probe/build row state is declared as. */
  val RowClass = "org.apache.spark.sql.catalyst.InternalRow"

  /** Builds an output row from a probe row and a build row. */
  type Join = (InternalRow, InternalRow) => InternalRow

  /** Wrap an operator's output iterator with the `numOutputRows`
    * SQLMetric — the one observability hook every production Spark
    * operator exposes (UI / AQE runtime stats read it). One virtual
    * call + one long add per row, same as the built-in joins. */
  def counted(it: Iterator[InternalRow], m: SQLMetric): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      override def hasNext: Boolean = it.hasNext
      override def next(): InternalRow = {
        m += 1
        it.next()
      }
    }
}

/** The sorted-merge pair ([[AsofJoinExec]], [[BandJoinExec]]): each side
  * hash-clustered on its keys (co-partitioned exactly as a sort-merge
  * join's sides are) and sorted by (keys…, time), so one scanner `S`
  * merges each co-partitioned pair of partitions in a single forward
  * pass. Whole-stage codegen uses the SortMergeJoin arrangement: the
  * probe loop runs inside the stage and the build side stays an
  * iterator behind the compiled scanner, which also backs the iterator
  * path. */
trait MergeTimeJoinExec[S <: AnyRef] extends TimeJoinExec {
  import TimeJoinExec.{Join, RowClass}

  def isSkewJoin: Boolean

  /** The scanner's class, named by the generated code. */
  protected def scannerClass: Class[S]

  /** One partition's scanner from its build iterator and that
    * partition's (probe key, build key) projections and key ordering. */
  protected def newScanner: (Iterator[InternalRow], UnsafeProjection,
    UnsafeProjection, Ordering[InternalRow]) => S

  /** The iterator path's emit loop over one probe partition; `join`
    * builds an output row from a probe row and a build row. */
  protected def emitRows: (Iterator[InternalRow], S, Join) => Iterator[InternalRow]

  /** The generated probe loop. Called once the probe input and the
    * scanner are declared, it declares any state of its own, then
    * returns the loop given (leftRow, rightRow, numOutput, consumed):
    * the probe and build row states, the row-count metric and the
    * parent's code over their columns. */
  protected def probeLoop(ctx: CodegenContext, leftInput: String,
      scanner: String): (String, String, String, String) => String

  // isSkewJoin: the AQE skew rule replaced the children's shuffle reads
  // with per-partition splits (probe sliced by mapper ranges, build
  // partition replicated per slice) — the 1:1 reducer alignment it
  // builds IS the clustering, but no Partitioning object describes it,
  // so requirements switch off exactly as SortMergeJoinExec's do
  override def requiredChildDistribution: Seq[Distribution] =
    if (isSkewJoin) UnspecifiedDistribution :: UnspecifiedDistribution :: Nil
    else ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override def stringArgs: Iterator[Any] =
    super.stringArgs.toSeq.dropRight(1).iterator ++
      (if (isSkewJoin) Iterator("isSkewJoin=true") else Iterator.empty)

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.execute() :: right.execute() :: Nil

  /** Per-partition scanner factory — serialized into the task (and,
    * on the codegen path, into the generated class's references); the
    * projections/ordering are created fresh per partition inside it. */
  private def scannerFactory: Iterator[InternalRow] => S = {
    val (lOut, rOut) = (left.output, right.output)
    val (lKeyExprs, rKeyExprs) = (leftKeys, rightKeys)
    val keyTypes = leftKeys.map(_.dataType)
    val make = newScanner
    rIter => make(rIter,
      UnsafeProjection.create(lKeyExprs, lOut),
      UnsafeProjection.create(rKeyExprs, rOut),
      RowOrdering.createNaturalAscendingOrdering(keyTypes))
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val numOut = longMetric("numOutputRows")
    val (mkScanner, mkJoined, emit) = (scannerFactory, joinedRows, emitRows)
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      TimeJoinExec.counted(emit(lIter, mkScanner(rIter), mkJoined()), numOut)
    }
  }

  override protected def doProduce(ctx: CodegenContext): String = {
    val leftInput = ctx.addMutableState("scala.collection.Iterator",
      s"${kind}LeftInput", v => s"$v = inputs[0];")
    val scannerCls = scannerClass.getName
    val factory = ctx.addReferenceObj(s"${kind}ScannerFactory", scannerFactory,
      "scala.Function1")
    val scanner = ctx.addMutableState(scannerCls, s"${kind}Scanner",
      v => s"$v = ($scannerCls) $factory.apply(inputs[1]);")
    val loop = probeLoop(ctx, leftInput, scanner)
    val leftRow = ctx.addMutableState(RowClass, s"${kind}LeftRow")
    val rightRow = ctx.addMutableState(RowClass, s"${kind}RightRow")
    val numOutput = metricTerm(ctx, "numOutputRows")

    ctx.currentVars = null
    ctx.INPUT_ROW = leftRow
    val leftVars = left.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    ctx.INPUT_ROW = rightRow
    val rightVars = right.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, nullable = true).genCode(ctx)
    }
    loop(leftRow, rightRow, numOutput, consume(ctx, leftVars ++ rightVars))
  }
}

/** The broadcast pair ([[BroadcastAsofJoinExec]],
  * [[BroadcastBandJoinExec]]): the small build side ships to every
  * executor and the PROBE SIDE IS NEVER SHUFFLED OR SORTED — its
  * partitioning and ordering pass through. Per executor the broadcast
  * rows index into {key → (sorted times, rows)}, memoized per JVM
  * ([[BroadcastAsofJoinExec.indexFor]]), and a probe `P` answers each
  * probe row from that index. Whole-stage codegen uses the
  * BroadcastHashJoin arrangement: the probe fuses into its child's
  * stage (scan → probe → downstream with no iterator boundary). */
trait BroadcastTimeJoinExec[P <: AnyRef] extends TimeJoinExec {
  import TimeJoinExec.{Join, RowClass}

  /** The probe's class, named by the generated code. */
  protected def probeClass: Class[P]

  /** Wraps one JVM's index in a probe. */
  protected def newProbe: BroadcastAsofJoinExec.Index => P

  /** The iterator path's emit loop over one probe partition: `key`
    * projects a probe row to its index key, `lTimeIdx` is the probe
    * time ordinal and `join` builds an output row. */
  protected def emitRows: (Iterator[InternalRow], P, InternalRow => InternalRow,
    Int, Join) => Iterator[InternalRow]

  /** The generated lookup-and-emit code for one consumed probe row.
    * `prelude` computes `key` (an UnsafeRow in the index-key layout)
    * and `time`; the build columns are read from the `matched` row
    * state; `consumed` is the parent's code over (probe ++ build). */
  protected def probeCode(ctx: CodegenContext, probe: String,
      prelude: String, key: String, time: String, matched: String,
      numOutput: String, consumed: => String): String

  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil

  override def supportCodegen: Boolean = left.isInstanceOf[CodegenSupport]

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.asInstanceOf[CodegenSupport].inputRDDs()

  override protected def doProduce(ctx: CodegenContext): String =
    left.asInstanceOf[CodegenSupport].produce(ctx, this)

  /** The probe factory both execution paths use: looks up (or builds)
    * this JVM's index for the broadcast. The memo key must capture
    * everything the built index depends on: ReuseExchange can share
    * one IdentityBroadcastMode exchange between two joins over the same
    * build subplan but with different key or time bindings, and a bare
    * broadcast-id key would then serve the first operator's index to
    * the second. */
  private def probeFactory: () => P = {
    val bcast = right.executeBroadcast[Array[InternalRow]]()
    val (rOut, rKeyExprs, rIdx) = (right.output, rightKeys, rTimeIdx)
    val memoKey = (bcast.id, rKeyExprs.map(_.exprId.id), rIdx)
    val make = newProbe
    () => make(BroadcastAsofJoinExec.indexFor(memoKey,
      BroadcastAsofJoinExec.buildIndex(bcast.value,
        UnsafeProjection.create(rKeyExprs, rOut), rIdx)))
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val numOut = longMetric("numOutputRows")
    val (mkProbe, mkJoined, emit) = (probeFactory, joinedRows, emitRows)
    val (lOut, lKeyExprs, lIdx) = (left.output, leftKeys, lTimeIdx)
    left.execute().mapPartitions { lIter =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      TimeJoinExec.counted(emit(lIter, mkProbe(), lKeyProj, lIdx, mkJoined()), numOut)
    }
  }

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode],
      row: ExprCode): String = {
    val probeCls = probeClass.getName
    val factory = ctx.addReferenceObj(s"${kind}ProbeFactory", probeFactory,
      "scala.Function0")
    val probe = ctx.addMutableState(probeCls, s"${kind}Probe",
      v => s"$v = ($probeCls) $factory.apply();")

    // probe key as an UnsafeRow with the same layout the index keys use
    ctx.currentVars = input
    val keyEv = GenerateUnsafeProjection.createCode(ctx,
      leftKeys.map(k => BindReferences.bindReference(k: Expression, left.output)))
    val timeEv = BindReferences.bindReference(leftTime: Expression, left.output)
      .genCode(ctx)
    val matched = ctx.addMutableState(RowClass, s"${kind}MatchedRow")
    val numOutput = metricTerm(ctx, "numOutputRows")

    // build-side columns read from the matched (possibly all-null) row
    ctx.currentVars = null
    ctx.INPUT_ROW = matched
    val rightVars = right.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, nullable = true).genCode(ctx)
    }
    // null time reads as 0 — the documented natural-ordering semantics
    val timeVal = if (leftTime.nullable)
      s"(${timeEv.isNull} ? 0L : ${timeEv.value})" else timeEv.value.toString
    probeCode(ctx, probe, s"${keyEv.code}\n${timeEv.code}", keyEv.value.toString,
      timeVal, matched, numOutput, consume(ctx, input ++ rightVars))
  }
}
