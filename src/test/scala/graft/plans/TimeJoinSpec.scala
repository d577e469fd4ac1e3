package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.graft.PlanBridge

/** The [[TimeJoin]] descriptor is the one place a time join's arguments
  * are checked, and every entry point checks them before it plans or
  * runs anything. */
class TimeJoinSpec extends SparkSpec {

  test("the descriptor rejects a bad direction, hint, band or key list") {
    intercept[IllegalArgumentException](Asof("backwards"))
    intercept[IllegalArgumentException](Band(10L, -10L))
    intercept[IllegalArgumentException](
      TimeJoin(Seq("k" -> "bk"), "t", "bt", Asof(), hint = "hash"))
    intercept[IllegalArgumentException](TimeJoin(Nil, "t", "bt", Asof()))
    intercept[IllegalArgumentException](
      TimeJoin(Seq("k" -> "bk"), "t", "bt", Asof(), keyless = true))
    assert(Asof("forward").forward && !Asof().forward)
    assert(TimeJoin.keyless("t", "bt", Band(-1L, 1L)).keys.isEmpty)
  }

  test("bad arguments throw and valid calls build, both with zero Spark jobs") {
    val s = spark
    import s.implicits._
    val l = Seq((1L, 1L, 10L), (2L, 1L, 20L), (3L, 2L, 30L))
      .toDF("id", "k", "t")
    val r = Seq((1L, 5L, 100L), (1L, 15L, 101L), (2L, 25L, 102L))
      .toDF("bk", "bt", "b_id")
    // the harness sees the job of an action
    assert(jobsDuring(s)(r.count()) > 0, "an action started no job")
    val valid = Seq[(String, () => Any)](
      "as-of" -> (() => PlanBridge.asofJoin(l, r, Seq("k" -> "bk"), "t", "bt")),
      "band" -> (() => PlanBridge.bandJoin(l, r, Seq("k" -> "bk"), "t", "bt",
        lowUs = -10L, highUs = 10L)))
    for ((what, call) <- valid) {
      val jobs = jobsDuring(s)(call())
      assert(jobs == 0, s"$what: $jobs job(s) ran while the DataFrame was built")
    }
    val calls = Seq[(String, () => Any)](
      "inverted band" -> (() => PlanBridge.bandJoin(l, r,
        Seq("k" -> "bk"), "t", "bt", lowUs = 10L, highUs = -10L)),
      "unknown direction" -> (() => PlanBridge.asofJoin(l, r,
        Seq("k" -> "bk"), "t", "bt", direction = "backwards")),
      "empty key list" -> (() => PlanBridge.asofJoin(l, r, Nil, "t", "bt")))
    for ((what, call) <- calls) {
      val jobs = jobsDuring(s)(intercept[IllegalArgumentException](call()))
      assert(jobs == 0, s"$what: $jobs job(s) ran before the rejection")
    }
  }
}
