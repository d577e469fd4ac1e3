package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan gate: the engine's session configuration has ONE home,
  * [[GraftSession]]. Copied builder blocks drifted apart before it
  * existed (extensions, codegen cache size, core count), so that the
  * tests and profilers ran a different engine than the bench; a builder
  * call anywhere else is a test failure. So is configuring a session
  * after it is built: appending planner strategies or optimizer rules
  * to a live session, building a second session by reflection, or
  * setting the parquet nanos key the builder already sets. */
class GraftSessionGateSpec extends AnyFunSuite {

  private val roots = Seq("src/main/scala", "src/test/scala")
    .map(java.nio.file.Paths.get(_))

  private val builderCall = """SparkSession\s*\.\s*builder\b""".r

  /** what configures a session outside its builder → why it is refused */
  private val runtimeConfig = Seq(
    """\bextra(Strategies|Optimizations)\s*[:+]*=(?!=)""".r ->
      "appends to a live session's planner or optimizer",
    """\bensure(Strategy|BandRewrite)\b""".r ->
      "registers the time-join tier on a live session",
    """\bsession[W]ithExtensions\b""".r ->
      "builds a derived session outside the builder",
    """\bget[D]eclaredConstructors\b""".r ->
      "reaches a private constructor by reflection",
    """spark\.sql\.legacy\.parquet\.nanos[A]sLong""".r ->
      "sets a builder setting per call")

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

  test("the runtime-configuration patterns recognise the shapes they gate") {
    val strategies = "extra" + "Strategies"
    val flagged = Seq(s"exp.$strategies = exp.$strategies :+ x",
      s"exp.$strategies :+= x", "exp.extra" + "Optimizations ++= rules",
      "PlanBridge.ensure" + "Strategy(spark)", "ensure" + "BandRewrite(s)",
      "PlanBridge.session" + "WithExtensions(s, f)",
      "classOf[X].getDeclared" + "Constructors",
      """conf.set("spark.sql.legacy.parquet.nanos""" + """AsLong", "true")""")
    for (line <- flagged)
      assert(runtimeConfig.exists(_._1.findFirstIn(line).nonEmpty), line)
    assert(runtimeConfig.forall(_._1.findFirstIn(
      s"assert(s.experimental.$strategies == before)").isEmpty))
  }

  test("sessions are configured only by GraftSession's builder") {
    val home = "src/main/scala/graft/GraftSession.scala"
    val offenders = sources.toSeq.sortBy(_._1).flatMap { case (path, text) =>
      runtimeConfig.collect {
        case (pattern, why) if path != home && pattern.findFirstIn(text).nonEmpty =>
          s"$path: ${pattern.findFirstIn(text).get} ($why)"
      }
    }
    assert(offenders.isEmpty,
      "configure sessions in graft.GraftSession's builder; a caller's " +
        "session gets the engine from spark.sql.extensions=" +
        "graft.plans.GraftExtensions:\n" + offenders.mkString("\n"))
  }
}
