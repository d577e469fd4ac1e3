package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Dot product of two numeric arrays (float or double elements), computed
  * in double with a sequential left-to-right loop.
  *
  * Why a custom Catalyst expression instead of `zip_with`+`aggregate`:
  * the built-in composition materializes an intermediate array per row and
  * walks it twice; this expression is a single fused loop that whole-stage
  * codegen inlines — on the brute-force similarity path (rows × dims) that
  * is the difference between memory-bound and FLOP-bound. At 100 TB the
  * ANN candidate-verification stage is exactly this loop.
  *
  * Null handling: null if either side is null (BinaryExpression default);
  * length mismatch uses the shorter side.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override lazy val resolved: Boolean =
    childrenResolved && Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double)$a.$lGet($i) * (double)$b.$rGet($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Product-quantization encoder: for each subspace m, the id of the
  * codebook centroid nearest (integer squared L2, ties to the LOWEST
  * id) to the vector's m-th subvector.
  *
  * Why a custom expression: the DataFrame formulation — M columns of
  * `array_min(array(struct(dist, cid)...))` over M×K unrolled distance
  * expressions — generates a projection whose Janino compilation alone
  * costs seconds per plan and whose struct allocations dominate the
  * scan (measured: ss09's encode at 9-12s/rep at sf0.1). This is one
  * fused loop, O(1) generated code regardless of M and K, fully inside
  * whole-stage codegen (the VecDot argument, applied to encoding) —
  * same measured scan at 0.3s.
  *
  * `left`: the int-array vector (M·subD elements, subspaces
  * concatenated). `right`: the codebook literal, array of M books,
  * each an array of centroid rows `[cid, c_0, ..., c_{subD-1}]` sorted
  * by cid ascending (so strict `<` keeps the lowest cid on ties —
  * dropped empty clusters may leave cid gaps, which is why the cid
  * travels inside the row instead of being the row's position). */
case class PqEncode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override lazy val resolved: Boolean = childrenResolved &&
    (left.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }) &&
    (right.dataType match {
      case ArrayType(ArrayType(ArrayType(IntegerType, _), _), _) => true
      case _ => false
    })

  override def nullSafeEval(v: Any, cb: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val books = cb.asInstanceOf[ArrayData]
    val m = books.numElements()
    val out = new Array[Int](m)
    var mi = 0
    var off = 0
    while (mi < m) {
      val book = books.getArray(mi)
      val k = book.numElements()
      val subD = book.getArray(0).numElements() - 1
      var best = Long.MaxValue
      var bestCid = -1
      var ki = 0
      while (ki < k) {
        val row = book.getArray(ki)
        var s = 0L
        var i = 0
        while (i < subD) {
          val d = (vec.getInt(off + i) - row.getInt(i + 1)).toLong
          s += d * d
          i += 1
        }
        if (s < best) { best = s; bestCid = row.getInt(0) }
        ki += 1
      }
      out(mi) = bestCid
      off += subD
      mi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cb) => {
      val ad = "org.apache.spark.sql.catalyst.util.ArrayData"
      val m = ctx.freshName("m"); val mi = ctx.freshName("mi")
      val out = ctx.freshName("out"); val off = ctx.freshName("off")
      val book = ctx.freshName("book"); val k = ctx.freshName("k")
      val subD = ctx.freshName("subD"); val best = ctx.freshName("best")
      val bestCid = ctx.freshName("bestCid"); val ki = ctx.freshName("ki")
      val row = ctx.freshName("row"); val s = ctx.freshName("s")
      val i = ctx.freshName("i"); val dv = ctx.freshName("dv")
      s"""
         |int $m = $cb.numElements();
         |int[] $out = new int[$m];
         |int $off = 0;
         |for (int $mi = 0; $mi < $m; $mi++) {
         |  $ad $book = $cb.getArray($mi);
         |  int $k = $book.numElements();
         |  int $subD = $book.getArray(0).numElements() - 1;
         |  long $best = Long.MAX_VALUE;
         |  int $bestCid = -1;
         |  for (int $ki = 0; $ki < $k; $ki++) {
         |    $ad $row = $book.getArray($ki);
         |    long $s = 0L;
         |    for (int $i = 0; $i < $subD; $i++) {
         |      long $dv = (long)($v.getInt($off + $i) - $row.getInt($i + 1));
         |      $s += $dv * $dv;
         |    }
         |    if ($s < $best) { $best = $s; $bestCid = $row.getInt(0); }
         |  }
         |  $out[$mi] = $bestCid;
         |  $off += $subD;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The loops behind the int8 grid: ss05's symmetric quantizer
  * (scale = max|x| / 127, q_i = round(x_i / scale)) and the element-wise
  * difference. [[Int8Scale]], [[Int8Quantize]] and [[Int8Sub]] call them
  * from both their interpreted and their generated path, so the two
  * cannot drift apart.
  *
  * Each reproduces, case by case, the lambda expression it replaced:
  *   - scale: `array_max(transform(x, v -> abs(double(v)))) / 127.0`.
  *     Null elements are skipped, NaN orders above every number (so one
  *     NaN makes the scale NaN), and no non-null element gives null;
  *   - q: `transform(x, v -> CAST(round(double(v) / scale) AS INT))`.
  *     A null element stays null. A zero scale (an all-zero vector) is
  *     `DIVIDE_BY_ZERO` under ANSI and a null element without it.
  *     ROUND is half away from zero, NaN and ±Inf pass through it, and
  *     the cast of a NaN quotient (a NaN or ±Inf element) is
  *     `CAST_OVERFLOW` under ANSI and 0 without it;
  *   - difference: `zip_with(a, b, (x, y) -> x - y)`, padded with nulls
  *     to the longer side. The int8 grid's values cannot overflow an
  *     int, so the ANSI overflow check is not repeated. */
object Int8Kernels {
  /** This object's name as generated Java code calls it. */
  private[functions] val javaName: String = getClass.getName.stripSuffix("$")

  private def elem(x: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)

  /** max |x_i| over the non-null elements; NaN if one is NaN, -1 if
    * there is no non-null element. */
  def maxAbs(x: ArrayData, isFloat: Boolean): Double = {
    val n = x.numElements()
    var m = -1.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i)) {
        val a = math.abs(elem(x, isFloat, i))
        if (a > m || a.isNaN) m = a
      }
      i += 1
    }
    m
  }

  /** Spark's ROUND of a double to scale 0 (HALF_UP on the decimal
    * value). For a double that is not an integer the shortest decimal
    * lies on the same side of every k.5 as the double itself, so half
    * away from zero on the binary value gives the same result. */
  private def roundHalfUp(v: Double): Double =
    if (v.isNaN || v.isInfinite) v
    else {
      val a = math.abs(v)
      val f = math.floor(a)
      math.copySign(if (a - f >= 0.5) f + 1.0 else f, v)
    }

  def quantize(x: ArrayData, isFloat: Boolean, failOnError: Boolean): ArrayData = {
    val n = x.numElements()
    val scale = maxAbs(x, isFloat) / 127.0
    val out = new Array[Int](n)
    var nulls: Array[Boolean] = null
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || scale == 0.0) {
        // x / 0.0 (an all-zero vector) is the one error before the cast
        if (failOnError && !x.isNullAt(i))
          throw org.apache.spark.sql.GraftBridge.divideByZero()
        if (nulls == null) nulls = new Array[Boolean](n)
        nulls(i) = true
      } else {
        val r = roundHalfUp(elem(x, isFloat, i) / scale)
        if (failOnError && !(r >= Int.MinValue.toDouble && r <= Int.MaxValue.toDouble))
          throw org.apache.spark.sql.GraftBridge.castOverflow(r)
        out(i) = r.toInt
      }
      i += 1
    }
    result(out, nulls)
  }

  def sub(x: ArrayData, y: ArrayData): ArrayData = {
    val nx = x.numElements()
    val ny = y.numElements()
    val n = math.max(nx, ny)
    val out = new Array[Int](n)
    var nulls: Array[Boolean] = null
    var i = 0
    while (i < n) {
      if (i < nx && i < ny && !x.isNullAt(i) && !y.isNullAt(i))
        out(i) = x.getInt(i) - y.getInt(i)
      else {
        if (nulls == null) nulls = new Array[Boolean](n)
        nulls(i) = true
      }
      i += 1
    }
    result(out, nulls)
  }

  private def result(out: Array[Int], nulls: Array[Boolean]): ArrayData =
    if (nulls == null) UnsafeArrayData.fromPrimitiveArray(out)
    else new GenericArrayData(
      Array.tabulate[Any](out.length)(i => if (nulls(i)) null else out(i)))
}

/** A float or double array in: the input side of the int8 grid. */
sealed abstract class Int8GridInput extends UnaryExpression {
  override lazy val resolved: Boolean = childrenResolved && (child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  })
  protected def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
}

/** ss05's grid step max|x| / 127 in one pass (see [[Int8Kernels]]). */
case class Int8Scale(child: Expression) extends Int8GridInput {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "int8_scale"

  override def nullSafeEval(a: Any): Any = {
    val m = Int8Kernels.maxAbs(a.asInstanceOf[ArrayData], isFloat)
    if (m < 0) null else m / 127.0
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val m = ctx.freshName("m")
      s"""
         |double $m = ${Int8Kernels.javaName}.maxAbs($a, $isFloat);
         |if ($m < 0) { ${ev.isNull} = true; } else { ${ev.value} = $m / 127.0; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ss05's int8 vector: one pass for max|x|, one for round(x / scale),
  * bit-identical to the lambda it replaced (see [[Int8Kernels]]). The
  * ANSI mode is fixed when the expression is built, as Spark's own
  * Divide and Cast fix theirs. */
case class Int8Quantize(child: Expression,
    failOnError: Boolean = SQLConf.get.ansiEnabled) extends Int8GridInput {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def prettyName: String = "int8_quantize"

  override def nullSafeEval(a: Any): Any =
    Int8Kernels.quantize(a.asInstanceOf[ArrayData], isFloat, failOnError)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"${Int8Kernels.javaName}.quantize($a, $isFloat, $failOnError)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Element-wise a - b of two int arrays, `zip_with(a, b, (x, y) -> x - y)`
  * without the lambda (see [[Int8Kernels]]): the centering step of the
  * PCA folds. */
case class Int8Sub(left: Expression, right: Expression)
    extends BinaryExpression {
  override lazy val resolved: Boolean = childrenResolved &&
    Seq(left, right).forall(_.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    })
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def prettyName: String = "int8_sub"

  override def nullSafeEval(a: Any, b: Any): Any =
    Int8Kernels.sub(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${Int8Kernels.javaName}.sub($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Σ term(a_i, b_i) in exact long arithmetic over two int or bigint
  * arrays — `aggregate(zip_with(a, b, term), 0L, (acc, x) -> acc + x)`
  * as one loop inside whole-stage codegen (VecDot's argument for
  * integers). Null, as the lambda is, when either array is null, when
  * the lengths differ (zip_with pads with nulls) or when an element is
  * null; two empty arrays sum to 0. The right side may be a column or a
  * literal. Int8 terms cannot overflow a long, so the ANSI overflow
  * check is not repeated. */
sealed abstract class Int8Fold extends BinaryExpression {
  protected def term(a: Long, b: Long): Long
  protected def termCode(a: String, b: String): String

  override lazy val resolved: Boolean = childrenResolved &&
    Seq(left, right).forall(_.dataType match {
      case ArrayType(IntegerType | LongType, _) => true
      case _ => false
    })
  private def isLong(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == LongType
  private def get(x: ArrayData, e: Expression, i: Int): Long =
    if (isLong(e)) x.getLong(i) else x.getInt(i).toLong
  private def getter(e: Expression): String = if (isLong(e)) "getLong" else "getInt"

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += term(get(x, left, i), get(y, right, i))
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val s = ctx.freshName("s"); val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |long $s = 0L;
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; }
         |  else {
         |    long $x = (long)$a.${getter(left)}($i);
         |    long $y = (long)$b.${getter(right)}($i);
         |    $s += ${termCode(x, y)};
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
}

/** Integer dot product Σ a_i·b_i: ss06's score and the PCA and JL
  * projections. */
case class Int8Dot(left: Expression, right: Expression) extends Int8Fold {
  override def prettyName: String = "int8_dot"
  override protected def term(a: Long, b: Long): Long = a * b
  override protected def termCode(a: String, b: String): String = s"$a * $b"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Integer squared L2 Σ (a_i - b_i)²: the IVF cell assignment, the
  * k-center traversal and the exact re-rank stages. */
case class Int8SqDist(left: Expression, right: Expression) extends Int8Fold {
  override def prettyName: String = "int8_sq_dist"
  override protected def term(a: Long, b: Long): Long = (a - b) * (a - b)
  override protected def termCode(a: String, b: String): String =
    s"($a - $b) * ($a - $b)"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-level wrappers + SQL registration for the vector expressions. */
object VectorOps {
  import org.apache.spark.sql.GraftBridge

  private def asExpr(c: Column): Expression = GraftBridge.toExpression(c)
  private def asCol(e: Expression): Column = GraftBridge.toColumn(e)

  /** dot(a, b) in double — fused codegen loop. */
  def vecDot(a: Column, b: Column): Column = asCol(VecDot(asExpr(a), asExpr(b)))

  /** L2 norm. */
  def vecNorm(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(vecDot(a, a))

  /** Cosine similarity in double; 0-norm guarded to NaN like x/0. */
  def cosine(a: Column, b: Column): Column =
    vecDot(a, b) / (vecNorm(a) * vecNorm(b))

  /** ss05's grid step max|x| / 127 of a float vector ([[Int8Scale]]). */
  def int8Scale(x: Column): Column = asCol(Int8Scale(asExpr(x)))

  /** ss05's int8 vector round(x / scale) ([[Int8Quantize]]). */
  def int8Quantize(x: Column): Column = asCol(Int8Quantize(asExpr(x)))

  /** Element-wise a - b of two int vectors ([[Int8Sub]]). */
  def int8Sub(a: Column, b: Column): Column = asCol(Int8Sub(asExpr(a), asExpr(b)))

  /** Exact integer dot product ([[Int8Dot]]). */
  def int8Dot(a: Column, b: Column): Column = asCol(Int8Dot(asExpr(a), asExpr(b)))

  /** Exact integer squared L2 ([[Int8SqDist]]). */
  def int8SqDist(a: Column, b: Column): Column =
    asCol(Int8SqDist(asExpr(a), asExpr(b)))

  /** PQ subspace codes for an int vector against `[cid, c...]`-row
    * codebooks (see [[PqEncode]]). Books ship as one plan literal. */
  def pqEncode(vec: Column, codebooks: Seq[Seq[(Int, Seq[Int])]]): Column = {
    val rows: Seq[Seq[Seq[Int]]] = codebooks.map(_.sortBy(_._1)
      .map { case (cid, c) => cid +: c })
    asCol(PqEncode(asExpr(vec),
      asExpr(org.apache.spark.sql.functions.typedlit(rows))))
  }

  /** Register `vec_dot` for SQL use. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot", exprs => VecDot(exprs(0), exprs(1)), "scala_udf")
}
