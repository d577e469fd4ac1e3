package graft.functions

import graft.SparkSpec
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorOps._

/** Each int8 kernel against the lambda expression it replaced, both
  * evaluated in the same session, under ANSI on and off, on the
  * generated and on the interpreted path. The expectation is Spark's
  * own evaluation of the old formulation, not a model of the kernel. */
class Int8KernelSpec extends SparkSpec {

  private val rnd = new scala.util.Random(20261019L)

  // ---- the formulations the kernels replaced ----

  private def lambdaScale(e: Column): Column =
    array_max(transform(e, x => abs(x.cast("double")))) / 127.0

  /** ss05's quantizer as it was: `scale` a column the per-element
    * lambda reads. */
  private def lambdaQuantize(df: DataFrame): DataFrame =
    df.withColumn("scale", lambdaScale(col("e")))
      .withColumn("q", transform(transform(col("e"), x => x.cast("double")),
        x => round(x / col("scale")).cast("int")))

  private val lambdaSqDist =
    "aggregate(zip_with(a, b, (x, y) -> CAST(x - y AS BIGINT) * (x - y)), 0L, (acc, t) -> acc + t)"
  private val lambdaDot =
    "aggregate(zip_with(a, b, (x, y) -> CAST(x AS BIGINT) * y), 0L, (acc, t) -> acc + t)"
  private val lambdaDotLong =
    "aggregate(zip_with(a, c, (x, y) -> CAST(x AS BIGINT) * y), 0L, (acc, t) -> acc + t)"
  private val lambdaSub = "zip_with(a, b, (x, y) -> x - y)"

  // ---- inputs ----

  private val floatVecs = ArrayType(FloatType, containsNull = true)
  private val intVecs = ArrayType(IntegerType, containsNull = true)

  private def randomFloats(n: Int): Seq[java.lang.Float] =
    Seq.fill(n)(java.lang.Float.valueOf((rnd.nextGaussian() * 3).toFloat))
  private def randomInt8(n: Int): Seq[Integer] =
    Seq.fill(n)(Integer.valueOf(rnd.nextInt(255) - 127))
  private def f(xs: Float*): Seq[java.lang.Float] = xs.map(java.lang.Float.valueOf)

  /** Rows the quantizer maps without error under either mode. */
  private val cleanEmbeddings: Seq[Seq[java.lang.Float]] =
    Seq.fill(40)(randomFloats(64)) ++ Seq(
      null,                                   // a null array
      Seq(java.lang.Float.valueOf(1.5f), null, java.lang.Float.valueOf(-2.0f)), // a null element
      Seq.empty,                              // an empty array
      Seq(null, null),                        // no non-null element
      // max 127 gives scale 1.0, so every quotient is the element: ±k.5
      f(127f, 2.5f, -2.5f, 0.5f, -0.5f, 126.5f, -1.5f, 3.4999998f),
      // max 0.5 gives quotients 127 and ±63.5
      f(0.5f, 0.25f, -0.25f, -0.5f),
      f(-3.0f))
  /** Rows that reach ANSI's errors: an all-zero vector divides by zero;
    * a NaN or ±Inf element makes a NaN quotient, whose cast fails. */
  private val errorEmbeddings: Seq[Seq[java.lang.Float]] = Seq(
    f(0f, 0f, 0f),
    f(0f, -0f),
    f(1f, Float.NaN, 2f),
    f(1f, Float.PositiveInfinity, -3f),
    f(Float.NegativeInfinity, 4f))

  private def embeddings(rows: Seq[Seq[java.lang.Float]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.zipWithIndex.map { case (e, i) => Row(i, e) }, 2),
      StructType(Seq(StructField("id", IntegerType), StructField("e", floatVecs))))

  private def pairs(): DataFrame = {
    def arr(xs: Integer*): Seq[Integer] = xs
    val rows: Seq[(Seq[Integer], Seq[Integer])] =
      Seq.fill(40)((randomInt8(64), randomInt8(64))) ++ Seq(
        (null, randomInt8(3)),                       // a null array
        (randomInt8(3), null),
        (arr(1, null, 3), arr(4, 5, 6)),             // a null element
        (arr(1, 2, 3), arr(4, null, 6)),
        (arr(1, 2, 3), arr(4, 5)),                   // unequal lengths
        (arr(1), arr(4, 5, 6)),
        (arr(), arr()),                              // empty arrays
        (arr(), arr(1)),
        (arr(-127, 127), arr(127, -127)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.zipWithIndex.map { case ((a, b), i) => Row(i, a, b) }, 2),
      StructType(Seq(StructField("id", IntegerType), StructField("a", intVecs),
        StructField("b", intVecs))))
      .withColumn("c", col("b").cast("array<bigint>"))
  }

  // ---- evaluation modes ----

  private val modes = Seq(
    "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConfs[T](confs: Seq[(String, String)])(f: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Every (path, ANSI) combination, with the confs set while the
    * columns are built (the ANSI mode is fixed at that point). */
  private def everyMode(f: (String, Boolean) => Unit): Unit =
    for ((path, confs) <- modes; ansi <- Seq(true, false))
      withConfs(confs :+ ("spark.sql.ansi.enabled" -> ansi.toString))(f(path, ansi))

  /** (id, native, lambda) per row, sorted by id. */
  private def compare(df: DataFrame, native: Column, lambda: Column): Seq[(Int, Row, Row)] =
    df.select(col("id"), struct(native).as("n"), struct(lambda).as("l"))
      .collect().toSeq.map(r => (r.getInt(0), r.getStruct(1), r.getStruct(2)))
      .sortBy(_._1)

  private def assertSame(what: String, got: Seq[(Int, Row, Row)]): Unit = {
    val diff = got.filter { case (_, n, l) => n != l }
    assert(diff.isEmpty, s"$what differs from its lambda on rows:\n" +
      diff.take(5).map { case (i, n, l) => s"  $i: native $n, lambda $l" }.mkString("\n"))
  }

  /** The error condition `f` fails with (None if it does not fail). */
  private def condition(f: => Any): Option[String] =
    try { f; None }
    catch { case e: Throwable =>
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case t: SparkThrowable => t.getCondition }
        .orElse(Some(e.getClass.getName))
    }

  // ---- the quantizer ----

  test("int8Scale and int8Quantize equal the lambda quantizer on every path") {
    everyMode { (path, ansi) =>
      val rows = if (ansi) cleanEmbeddings else cleanEmbeddings ++ errorEmbeddings
      val df = lambdaQuantize(embeddings(rows))
      val got = compare(df,
        struct(int8Scale(col("e")).as("scale"), int8Quantize(col("e")).as("q")),
        struct(col("scale"), col("q")))
      assert(got.size == rows.size)
      assertSame(s"quantize [$path, ansi=$ansi]", got)
    }
  }

  test("the quantizer drops its scale column without changing q") {
    // the case that used to inline `scale` into the per-element lambda
    everyMode { (path, ansi) =>
      val base = embeddings(cleanEmbeddings)
      val want = lambdaQuantize(base).drop("scale").select(col("id"), col("q"))
        .collect().sortBy(_.getInt(0)).toSeq
      val got = base.select(col("id"), int8Quantize(col("e")).as("q"))
        .collect().sortBy(_.getInt(0)).toSeq
      assert(got == want, s"[$path, ansi=$ansi]")
    }
  }

  test("ANSI: the quantizer fails on the rows the lambda fails on, with its error") {
    everyMode { (path, ansi) =>
      if (ansi) errorEmbeddings.zipWithIndex.foreach { case (row, i) =>
        val df = embeddings(Seq(row))
        val want = condition(lambdaQuantize(df).select(col("q")).collect())
        val got = condition(df.select(int8Quantize(col("e"))).collect())
        assert(want.nonEmpty, s"[$path] row $i: the lambda did not fail")
        assert(got == want, s"[$path] row $i: native $got, lambda $want")
      }
    }
  }

  // ---- the folds and the difference ----

  test("int8SqDist, int8Dot and int8Sub equal their zip_with lambdas on every path") {
    everyMode { (path, ansi) =>
      val df = pairs()
      assertSame(s"int8SqDist [$path, ansi=$ansi]",
        compare(df, int8SqDist(col("a"), col("b")), expr(lambdaSqDist)))
      assertSame(s"int8Dot [$path, ansi=$ansi]",
        compare(df, int8Dot(col("a"), col("b")), expr(lambdaDot)))
      assertSame(s"int8Dot with a bigint side [$path, ansi=$ansi]",
        compare(df, int8Dot(col("a"), col("c")), expr(lambdaDotLong)))
      assertSame(s"int8Sub [$path, ansi=$ansi]",
        compare(df, int8Sub(col("a"), col("b")), expr(lambdaSub)))
    }
  }

  test("a literal right side equals the literal lambda on every path") {
    val lit8 = randomInt8(64).map(_.intValue)
    val litL = Seq.fill(64)(rnd.nextInt(2000001).toLong - 1000000L)
    everyMode { (path, ansi) =>
      val df = pairs()
      assertSame(s"int8SqDist literal [$path, ansi=$ansi]",
        compare(df, int8SqDist(col("a"), typedlit(lit8)),
          expr(s"aggregate(zip_with(a, array(${lit8.mkString(",")}), " +
            "(x, y) -> CAST(x - y AS BIGINT) * (x - y)), 0L, (acc, t) -> acc + t)")))
      assertSame(s"int8Dot bigint literal [$path, ansi=$ansi]",
        compare(df, int8Dot(col("a"), typedlit(litL)),
          expr(s"aggregate(zip_with(a, array(${litL.mkString("L,")}L), " +
            "(x, y) -> CAST(x AS BIGINT) * y), 0L, (acc, t) -> acc + t)")))
      assertSame(s"int8Sub literal [$path, ansi=$ansi]",
        compare(df, int8Sub(col("a"), typedlit(lit8)),
          expr(s"zip_with(a, array(${lit8.mkString(",")}), (x, y) -> x - y)")))
    }
  }

  test("the kernels plan inside whole-stage codegen") {
    withConfs(modes.head._2) {
      val plan = pairs()
        .select(int8SqDist(col("a"), col("b")), int8Dot(col("a"), col("c")),
          int8Sub(col("a"), col("b")))
        .queryExecution.executedPlan
      val fused = plan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w.child.toString
      }.mkString
      Seq("int8_sq_dist", "int8_dot", "int8_sub").foreach(name =>
        assert(fused.contains(name), s"$name is not in a codegen stage:\n$plan"))
    }
  }
}
