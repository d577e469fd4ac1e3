package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan gate: the int8 paths of the query modules compute their
  * distances, dot products and centering through the native kernels of
  * [[graft.functions.VectorOps]] (int8SqDist, int8Dot, int8Sub). An
  * `aggregate(zip_with(...))` fold, or a `zip_with` over the quantized
  * column `q`, runs as interpreted lambdas per element and per row, so
  * one reappearing under src/main/scala/graft/ops is a test failure. */
class Int8FoldGateSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala/graft/ops")

  private val lambdaFold = """aggregate\s*\(\s*zip_with\s*\(""".r
  private val zipOverQ = """zip_with\s*\(\s*(?:col\s*\(\s*")?q\b""".r

  private val sources: Map[String, String] = {
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString.replace('\\', '/') ->
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .toMap
    finally files.close()
  }

  test("the patterns recognise the shapes they gate") {
    assert(lambdaFold.findFirstIn(
      "expr(\"aggregate(zip_with(q, q_q, (a, b) -> a * b), 0L, (acc, x) -> acc + x)\")").nonEmpty)
    assert(lambdaFold.findFirstIn("aggregate(\n  zip_with(col(\"c\"), m, f), lit(0L), g)").nonEmpty)
    assert(zipOverQ.findFirstIn("expr(s\"zip_with(q, array(1,2), (a, b) -> a - b)\")").nonEmpty)
    assert(zipOverQ.findFirstIn("zip_with(col(\"q\"), m, (a, b) => a - b)").nonEmpty)
    assert(zipOverQ.findFirstIn("zip_with(qq, m, f)").isEmpty)
    assert(lambdaFold.findFirstIn("explode(zip_with(slice(s, 1, n), t, f))").isEmpty)
  }

  test("no lambda fold over int8 vectors in src/main/scala/graft/ops") {
    assert(sources.keys.exists(_.endsWith("Similarity.scala")), s"no sources under $root")
    val offenders = sources.toSeq.sortBy(_._1).flatMap { case (path, text) =>
      (lambdaFold.findAllMatchIn(text) ++ zipOverQ.findAllMatchIn(text)).map { m =>
        val line = text.substring(0, m.start).count(_ == '\n') + 1
        s"$path:$line"
      }
    }
    assert(offenders.isEmpty,
      "use VectorOps.int8SqDist / int8Dot / int8Sub instead of a lambda fold:\n" +
        offenders.mkString("\n"))
  }
}
