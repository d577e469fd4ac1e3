package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.PlanBridge

/** The engine configures a session only through [[GraftSession]]'s
  * builder: running the time-join entry points, the SQL-surface queries
  * and the events read on a caller's session leaves that session's
  * planner, optimizer and conf as they were, and the results are the
  * shared session's. */
class CallerSessionSpec extends SparkSpec {

  private def frames(s: SparkSession): (DataFrame, DataFrame) = {
    import s.implicits._
    (Seq((1L, 1L, 10L), (2L, 1L, 25L), (3L, 2L, 30L), (4L, 3L, 5L))
      .toDF("id", "k", "t"),
     Seq((1L, 5L, 100L), (1L, 20L, 101L), (2L, 28L, 102L), (2L, 40L, 103L))
      .toDF("bk", "bt", "b_id"))
  }

  private val runs = Seq[(String, SparkSession => DataFrame)](
    "PlanBridge.asofJoin" -> { s =>
      val (l, r) = frames(s)
      PlanBridge.asofJoin(l, r, Seq("k" -> "bk"), "t", "bt")
    },
    "PlanBridge.bandJoin" -> { s =>
      val (l, r) = frames(s)
      PlanBridge.bandJoin(l, r, Seq("k" -> "bk"), "t", "bt", -20L, 0L)
    },
    "Tables.load events" -> (s => Tables.load(s, sf, "events"))) ++
    Seq("ev07c_band_sql", "ev07d_band_auto", "ev07f_band_right_outer",
      "ev08f_asof_sql", "ev08h_asof_keyless_sql").map { n =>
      n -> ((s: SparkSession) => queries.Events.queries(n)(s, sf))
    }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("the entry points leave the caller's session unchanged and return " +
      "the shared session's rows") {
    val s = spark.newSession()
    val strategies = s.experimental.extraStrategies
    val optimizations = s.experimental.extraOptimizations
    val conf = s.conf.getAll
    for ((what, run) <- runs) {
      assert(rows(run(s)) == rows(run(spark)), s"$what: rows differ")
      assert(s.experimental.extraStrategies == strategies,
        s"$what changed the session's extra strategies")
      assert(s.experimental.extraOptimizations == optimizations,
        s"$what changed the session's extra optimizations")
      assert(s.conf.getAll == conf, s"$what changed the session's conf: " +
        (s.conf.getAll.toSet diff conf.toSet))
    }
    assert(s.catalog.listTables().collect().forall(!_.isTemporary),
      "a SQL-surface query left a temp view behind")
  }
}
