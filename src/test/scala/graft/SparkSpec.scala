package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local SparkSession per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** The engine's session ([[GraftSession]]): what Bench and Verify run. */
  lazy val session: SparkSession = GraftSession(
    // local[4,2]: allow one task retry so retry-semantics tests (e.g.
    // idempotent JDBC staging) can exercise Spark's real re-execution
    "spark.master" -> "local[4,2]",
    "spark.sql.warehouse.dir" -> java.nio.file.Files.createTempDirectory("graft_wh").toString)

  /** The same context WITHOUT the engine's extensions, for reference
    * forms that must plan as stock Spark: under the band rewrite a
    * residual join would become the operator it is compared against. */
  lazy val plainSession: SparkSession =
    org.apache.spark.sql.graft.PlanBridge.sessionWithExtensions(session, _ => ())
}
