package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan gate: the engine's session configuration has ONE home,
  * [[GraftSession]]. Copied builder blocks drifted apart before it
  * existed (extensions, codegen cache size, core count), so that the
  * tests and profilers ran a different engine than the bench; a builder
  * call anywhere else is a test failure. */
class GraftSessionGateSpec extends AnyFunSuite {

  private val roots = Seq("src/main/scala", "src/test/scala")
    .map(java.nio.file.Paths.get(_))

  private val builderCall = """SparkSession\s*\.\s*builder\b""".r

  /** path relative to the repository root → source text */
  private val sources: Map[String, String] = roots.flatMap { root =>
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString.replace('\\', '/') ->
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .toList
    finally files.close()
  }.toMap

  test("the pattern recognises the shapes it gates") {
    val call = "SparkSession" + ".builder"
    assert(builderCall.findFirstIn(s"val s = $call()").nonEmpty)
    assert(builderCall.findFirstIn(s"org.apache.spark.sql.$call()").nonEmpty)
    assert(builderCall.findFirstIn(call.replace(".", "\n      .") + "()").nonEmpty)
    assert(builderCall.findFirstIn("SparkSession.Builder").isEmpty)
  }

  test("sessions are built only in GraftSession.scala") {
    val home = "src/main/scala/graft/GraftSession.scala"
    val offenders = sources.toSeq.sortBy(_._1).collect {
      case (path, text) if path != home && builderCall.findFirstIn(text).nonEmpty =>
        s"$path: ${builderCall.findAllIn(text).size} builder call(s)"
    }
    assert(offenders.isEmpty,
      "build sessions through graft.GraftSession (pass the settings a " +
        "caller needs to differ as overrides):\n" + offenders.mkString("\n"))
    assert(sources.get(home).exists(builderCall.findFirstIn(_).nonEmpty),
      s"no builder call found in $home")
  }
}
