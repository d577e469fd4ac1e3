package graft

import java.nio.file.{Files, Paths}
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** Source-scan gate: `Main.run` ingests a file in one export job and one
  * JDBC load over one physical plan, each reading the projected rows
  * itself, and `Flatten` compiles into whole-stage codegen.
  *  - In `Main` and `Sinks`: a persisted copy shared between the sinks,
  *    a per-partition `toLocalIterator` job or an `Observation` waiting on
  *    a sink's job would bring back the 4-job path.
  *  - In those and `JdbcTransactionalSink`: a `foreachPartition` load, its
  *    `longAccumulator` counters or a write planned as a SQL command
  *    (`GraftBridge.append`) would plan the file once per job again.
  *  - In `Flatten`: a `transform` lambda would take the generator out of
  *    whole-stage codegen.
  * A call to any of them in those files fails. */
class IngestJobsGateSpec extends AnyFunSuite {

  private val mainAndSinks = Seq("src/main/scala/graft/Main.scala",
    "src/main/scala/graft/ingest/Sinks.scala")
  private val sinkFiles = mainAndSinks :+ "src/main/scala/graft/ingest/JdbcTransactionalSink.scala"

  /** what brings back the 4-job path → why it is refused */
  private val removed: Seq[(Regex, String)] = Seq(
    """\.\s*(persist|cache|unpersist)\b""".r -> "a persisted copy shared by the sinks",
    """\.\s*toLocalIterator\b""".r -> "one job per partition to fetch rows to the driver",
    """\bObservation\b""".r -> "a row count observed on a sink's job")

  /** what plans the rows once per job, or compiles Flatten out of
    * codegen → why it is refused → where */
  private val replanned: Seq[(Regex, String, Seq[String])] = Seq(
    ("""\.\s*foreachPartition\b""".r, "a load that plans the rows again", sinkFiles),
    ("""\.\s*longAccumulator\b""".r, "counters outside the writers' commit messages",
      sinkFiles),
    ("""\bGraftBridge\s*\.\s*append\b""".r, "a write planned as a SQL command of its own",
      sinkFiles),
    ("""\btransform\s*\(""".r, "a lambda that runs outside whole-stage codegen",
      Seq("src/main/scala/graft/ingest/Flatten.scala")))

  private val patterns = removed.map(_._1) ++ replanned.map(_._1)

  test("the patterns recognise the shapes they gate") {
    val flagged = Seq("projected.persist()", "df.cache()", "projected\n  .unpersist(blocking = true)",
      "val it = df.toLocalIterator()", "val rows = Observation()",
      "import org.apache.spark.sql.{DataFrame, Observation}",
      "writeDf.foreachPartition { rows: Iterator[Row] =>", "df\n  .foreachPartition(f)",
      "val ok = spark.sparkContext.longAccumulator(\"ingest.succeeded\")",
      "GraftBridge.append(df, table)",
      "coalesce(transform(col(name), x => row { c =>", "transform (col(\"as\"), f)")
    for (line <- flagged) assert(patterns.exists(_.findFirstIn(line).nonEmpty), line)
    for (line <- Seq("nothing is cached", "// persisted rows", "Sinks.exportFiles(df, dir)",
        "GraftBridge.write(df, load)", "the `foreachPartition` body", "a `transform` lambda",
        "the transformed rows"))
      assert(patterns.forall(_.findFirstIn(line).isEmpty), line)
  }

  private def offenders(gates: Seq[(Regex, String, Seq[String])]): Seq[String] = for {
    (pattern, why, files) <- gates
    f <- files
    text = new String(Files.readAllBytes(Paths.get(f)), "UTF-8")
    hit <- pattern.findFirstIn(text)
  } yield s"$f: $hit ($why)"

  test("Main and Sinks neither persist, fetch rows to the driver, nor observe") {
    val found = offenders(removed.map { case (p, why) => (p, why, mainAndSinks) })
    assert(found.isEmpty,
      "export from one job and load in another, each reading the rows " +
        "itself:\n" + found.mkString("\n"))
  }

  test("the sinks run over one plan without per-job loads or counters, and Flatten " +
      "has no lambda") {
    val found = offenders(replanned)
    assert(found.isEmpty,
      "run both sink jobs as batch writes over one plan, counting in commit messages, " +
        "and flatten without a lambda:\n" + found.mkString("\n"))
  }
}
