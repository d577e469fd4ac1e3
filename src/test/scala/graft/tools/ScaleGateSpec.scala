package graft.tools

import java.io.File
import java.util.concurrent.Executors

import scala.collection.immutable.ListMap
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.{SessionCaches, SparkSpec}

/** Every scale gate, run at a seconds-scale size with the same
  * closed-form assertions it makes at its full size. The derived sizes
  * keep each gate's planted structure (hot-key share, LSH tiers,
  * divisibility, the drift plant); the one wall-clock comparison
  * (ivf's append vs rebuild) asserts at the full size only. Each gate gets its own session, so the confs it sets
  * cannot reach later specs, and together they must leave nothing in
  * the temp dir.
  *
  * Their Spark jobs are small and their time is mostly per-job and
  * per-micro-batch overhead, so three gates run at a time, slowest
  * first: the suite costs about its slowest gates rather than the sum
  * of all eleven. Each test awaits its own gate. */
class ScaleGateSpec extends SparkSpec {

  // the spec sizes, slowest gate first (seconds measured one at a time
  // on 4 cores: ivf 59, stream-asof 38, asof 34, bpe 11, cc 8, graph 8,
  // the rest 4 or less)
  private val small = ListMap(
    "ivf" -> 8000L,
    "stream-asof" -> 10000L,
    "asof" -> 400L,
    "bpe" -> 500L,
    "cc" -> 2048L,
    "graph" -> 20000L,
    "gram" -> 200L,
    "select" -> 5000L,
    "lsh" -> 3000L,
    "sketch" -> 100000L,
    "scatter" -> 70000L)

  /** Temp-dir entries the engine and the gates name. The context's
    * connected-components checkpoint dir lives until the application
    * ends, so it is not a gate's to delete. */
  private def tempEntries(): Set[String] =
    Option(new File(System.getProperty("java.io.tmpdir")).list()).toSet.flatten
      .filter(n => Seq("graft", "scale_", "temporary").exists(n.startsWith))
      .filterNot(_.startsWith("graft_cc_ckpt"))

  private lazy val (tempBefore, runs) = {
    val shared = spark
    val before = tempEntries()
    val pool = Executors.newFixedThreadPool(3, (r: Runnable) => {
      val t = new Thread(r, "scale-gate"); t.setDaemon(true); t
    })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futures = small.map { case (name, size) =>
      name -> Future {
        val session = shared.newSession()
        try Scale.gates(name).run(session, size)
        finally SessionCaches.evictNow(session)
      }
    }
    Future.sequence(futures.values).onComplete(_ => pool.shutdown())
    (before, futures)
  }

  test("every gate has a spec size at or above its minimum") {
    assert(small.keySet == Scale.gates.keySet)
    small.foreach { case (name, size) =>
      assert(size >= Scale.gates(name).min, s"$name: $size below the gate's minimum")
    }
  }

  for (name <- Scale.gates.keys) test(s"the $name gate holds at a small size") {
    assert(Await.result(runs(name), 15.minutes).nonEmpty)
  }

  test("the gates leave nothing in the temp dir") {
    runs.values.foreach(f => Await.ready(f, 15.minutes))
    assert(tempEntries() -- tempBefore == Set.empty)
  }

  test("the runner refuses an unknown gate or a bad size") {
    assert(Scale.parse(Array("sketch")) == Right("sketch" -> Scale.gates("sketch").size))
    assert(Scale.parse(Array("lsh", "3000")) == Right("lsh" -> 3000L))
    assert(Scale.parse(Array("nope")).isLeft)
    assert(Scale.parse(Array()).isLeft)
    assert(Scale.parse(Array("lsh", "x")).isLeft)
    assert(Scale.parse(Array("lsh", "299")).isLeft)
    assert(Scale.parse(Array("lsh", "3000", "1")).isLeft)
  }
}
