package graft.tools

import scala.collection.immutable.ListMap
import org.apache.spark.sql.SparkSession

/** Scale gates: planted ground truth checked at growing scale. Each gate
  * generates a synthetic input map-side from `spark.range`, plants
  * structure whose exact answer is known in closed form, runs an engine
  * kernel over it and asserts that answer. Every number inside a gate
  * derives from its one size, so the same body runs at the full size by
  * hand and at a seconds-scale size in tier-1 (`ScaleGateSpec`).
  *
  * Run one gate (prints one JSON line: the gate's measures plus its
  * wall time):
  * {{{
  *   tools/run.sh graft.tools.Scale <gate> [size]
  * }}}
  * An unknown gate or a size that is not a whole number at or above the
  * gate's minimum prints the gate list and exits 2. Per-gate results at
  * the full sizes are recorded in the docs/ROUND*.md each header cites.
  */
object Scale {

  /** A gate's named results: counts and timings, in output order. */
  type Measures = Seq[(String, Any)]

  /** `size` is the full (default) size; `min` the smallest size whose
    * derived numbers still hold the planted structure; `run` asserts the
    * closed form at the size it is given and returns its measures. */
  final case class Gate(size: Long, min: Long, run: (SparkSession, Long) => Measures)

  val gates: ListMap[String, Gate] = ListMap(
    "asof" -> Gate(200000L, 400L, AsofGate.run),
    "stream-asof" -> Gate(1000000L, 5120L, StreamAsofGate.run),
    "bpe" -> Gate(50000L, 500L, BpeGate.run),
    "cc" -> Gate(10000000L, 2048L, CcGate.run),
    "gram" -> Gate(500000L, 20L, GramGate.run),
    "graph" -> Gate(20000000L, 20000L, GraphGate.run),
    "ivf" -> Gate(500000L, 4000L, IvfGate.run),
    "lsh" -> Gate(499800L, 300L, LshGate.run),
    "scatter" -> Gate(60000000L, 1L, ScatterGate.run),
    "select" -> Gate(5000000L, 5000L, SelectGate.run),
    "sketch" -> Gate(60000000L, SketchGate.Distinct, SketchGate.run))

  def usage: String = "usage: graft.tools.Scale <gate> [size]\n" +
    gates.map { case (n, g) => f"  $n%-12s size ${g.size}%,d (min ${g.min}%,d)" }
      .mkString("gates:\n", "\n", "")

  /** (gate, size) from the command line, or the reason it is refused. */
  private[tools] def parse(args: Array[String]): Either[String, (String, Long)] =
    args.toList match {
      case name :: rest if rest.size <= 1 && gates.contains(name) =>
        val g = gates(name)
        rest.headOption.fold[Either[String, Long]](Right(g.size))(s =>
          s.toLongOption.filter(_ >= g.min)
            .toRight(s"size must be a whole number >= ${g.min}, got '$s'"))
          .map(name -> _)
      case name :: _ if !gates.contains(name) => Left(s"unknown gate '$name'")
      case _ => Left("expected a gate and at most one size")
    }

  def main(args: Array[String]): Unit = parse(args) match {
    case Left(msg) =>
      System.err.println(s"$msg\n$usage")
      sys.exit(2)
    case Right((name, size)) =>
      val spark = graft.GraftSession()
      try {
        val (measures, wall) = timed(gates(name).run(spark, size))
        println(json(Seq("gate" -> name, "size" -> size, "wall_s" -> wall) ++ measures))
      } finally spark.stop()
  }

  /** `f`'s result and its wall time in seconds (millisecond precision). */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, math.round((System.nanoTime() - t0) / 1e6) / 1e3)
  }

  /** `f` run with a fresh temp directory, deleted when `f` returns. */
  def withTempDir[A](prefix: String)(f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try f(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  /** One JSON object; numbers, booleans, strings and nested sequences. */
  def json(m: Measures): String = m.map { case (k, v) => s""""$k":${value(v)}""" }
    .mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case d: Double if d.isNaN || d.isInfinite => "null"
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => other.toString
  }
}
