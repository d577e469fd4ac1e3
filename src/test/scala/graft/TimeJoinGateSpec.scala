package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan gate: a time join's arguments are checked in ONE place,
  * the [[graft.plans.TimeJoin]] descriptor's file. Before it existed
  * the direction was re-validated in five places, the hint set in four
  * and a column-name `resolve` was copied three times, so a semantic
  * fix had to be made in each; any of them outside the descriptor's
  * file is a test failure. The scan also keeps out the deleted
  * hot-build-key tier (a logical second skew path beside the runtime
  * split, chosen by `spark.graft.skewJoin*` keys), which has no home
  * file at all. */
class TimeJoinGateSpec extends AnyFunSuite {

  private val home = "src/main/scala/graft/plans/TimeJoin.scala"

  /** what each pattern catches → the pattern */
  private val gates = Seq(
    "direction check" ->
      """==\s*"(?:backward|forward)"|"(?:backward|forward)"\s*==|\bdirections\s*\(""".r,
    "hint-set check" ->
      """\bhints\s*\(|Set\(\s*"auto"\s*,\s*"merge"\s*,\s*"broadcast"\s*\)""".r,
    "column resolve against a plan" ->
      """def\s+resolve\s*\(\s*\w+\s*:\s*LogicalPlan\b""".r)

  /** what each pattern catches → the pattern, allowed in no file */
  private val deleted = Seq(
    "hot-build-key tier" ->
      ("""\bAsofSkew\b|buildSkewed|detectHotKeyTuples|noAutoRoute|""" +
        """autoRouteHotBuild|spark\.graft\.skewJoin""").r)

  /** path relative to the repository root → source text */
  private val sources: Map[String, String] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString.replace('\\', '/') ->
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .toMap
    finally files.close()
  }

  test("the patterns recognise the shapes they gate") {
    def hits(name: String, text: String) =
      (gates ++ deleted).toMap.apply(name).findFirstIn(text).nonEmpty
    assert(hits("direction check", """require(direction == "backward" ||"""))
    assert(hits("direction check", """val fwd = dir == "forward""""))
    assert(hits("direction check", "require(AsofJoinPlan.directions(direction))"))
    assert(!hits("direction check", """addTime(x, y, "forward")"""))
    assert(hits("hint-set check", "require(AsofJoinPlan.hints(hint),"))
    assert(hits("hint-set check", """val hints = Set("auto", "merge", "broadcast")"""))
    assert(!hits("hint-set check", """if (hint == "broadcast") "broadcast""""))
    assert(hits("column resolve against a plan",
      "def resolve(plan: LogicalPlan, name: String): Attribute ="))
    assert(!hits("column resolve against a plan",
      "def resolve(s: SparkSession, d: String, name: String"))
    Seq("AsofSkew.buildSkewed(left, right, join, hot)",
      "def detectHotKeyTuples(probe: DataFrame,", "PlanBridge.noAutoRoute {",
      "autoRouteHotBuild(right, join)", "val buildSkewed = b > t",
      "\"spark.graft.skewJoin.buildKeys\"", "conf.set(\"spark.graft.skewJoin\", \"false\")")
      .foreach(t => assert(hits("hot-build-key tier", t), t))
    assert(!hits("hot-build-key tier", "class AsofSkewSpec extends SparkSpec"))
    assert(!hits("hot-build-key tier", "OptimizeSkewedGraftJoin()"))
    assert(!hits("hot-build-key tier", "spark.sql.adaptive.skewJoin.enabled"))
  }

  test("time-join arguments are checked only in the descriptor's file") {
    val offenders = for {
      (path, text) <- sources.toSeq.sortBy(_._1)
      (what, re) <- (if (path == home) Nil else gates) ++ deleted
      n = re.findAllIn(text).size if n > 0
    } yield s"$path: $n $what(s)"
    assert(offenders.isEmpty,
      "check time-join arguments in graft.plans.TimeJoin (build the " +
        "descriptor, or call Asof.isForward / TimeJoin.resolve); the " +
        "runtime split (OptimizeSkewedGraftJoin) is the only skew path:\n" +
        offenders.mkString("\n"))
    assert(sources.get(home).exists(t => gates.forall(_._2.findFirstIn(t).nonEmpty)),
      s"$home no longer holds the checks this gate protects")
  }
}
