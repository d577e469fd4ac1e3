package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Source-scan gate: `Main.run` ingests a file in one export job and one
  * JDBC load, each reading the projected rows itself. A persisted copy
  * shared between them, a per-partition `toLocalIterator` job or an
  * `Observation` waiting on a sink's job would bring back the 4-job path
  * that this replaced; a call to any of them in `Main` or `Sinks` fails. */
class IngestJobsGateSpec extends AnyFunSuite {

  private val files = Seq("src/main/scala/graft/Main.scala",
    "src/main/scala/graft/ingest/Sinks.scala")

  /** what brings back a removed route → why it is refused */
  private val removed = Seq(
    """\.\s*(persist|cache|unpersist)\b""".r -> "a persisted copy shared by the sinks",
    """\.\s*toLocalIterator\b""".r -> "one job per partition to fetch rows to the driver",
    """\bObservation\b""".r -> "a row count observed on a sink's job")

  test("the patterns recognise the shapes they gate") {
    val flagged = Seq("projected.persist()", "df.cache()", "projected\n  .unpersist(blocking = true)",
      "val it = df.toLocalIterator()", "val rows = Observation()",
      "import org.apache.spark.sql.{DataFrame, Observation}")
    for (line <- flagged) assert(removed.exists(_._1.findFirstIn(line).nonEmpty), line)
    for (line <- Seq("nothing is cached", "// persisted rows", "Sinks.exportFiles(df, dir)"))
      assert(removed.forall(_._1.findFirstIn(line).isEmpty), line)
  }

  test("Main and Sinks neither persist, fetch rows to the driver, nor observe") {
    val offenders = for {
      f <- files
      text = new String(Files.readAllBytes(Paths.get(f)), "UTF-8")
      (pattern, why) <- removed
      hit <- pattern.findFirstIn(text)
    } yield s"$f: $hit ($why)"
    assert(offenders.isEmpty,
      "export from one job and load in another, each reading the rows " +
        "itself:\n" + offenders.mkString("\n"))
  }
}
