package graft

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, CyclicBarrier, Executors,
  TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.storage.StorageLevel

/** The SessionMemo contract every per-session memo relies on: one value
  * survives a racing miss (the loser's persisted copy is released),
  * a value `keep` rejects is handed back but never stored, and evicting
  * one session releases only that session's entries. */
class SessionMemoSpec extends SparkSpec {

  private def persisted(tag: Int): DataFrame =
    spark.range(10).withColumn("tag", lit(tag)).persist(StorageLevel.DISK_ONLY)

  test("two threads missing one key keep one value; the loser is unpersisted") {
    val memo = SessionMemo.frames[String]
    val s = spark.newSession()
    val built = new ConcurrentLinkedQueue[DataFrame]()
    // both builders are inside `build` before either inserts
    val barrier = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val results = (0 until 2).map { i =>
        pool.submit(new Callable[DataFrame] {
          def call(): DataFrame = memo.get(s, "k") {
            val df = persisted(i)
            built.add(df)
            barrier.await(30, TimeUnit.SECONDS)
            df
          }
        })
      }.map(_.get(60, TimeUnit.SECONDS))
      assert(built.size == 2, "both threads should have missed")
      assert(results(0) eq results(1), "racing lookups returned different values")
      val winner = results(0)
      val loser = built.toArray(Array.empty[DataFrame]).find(_ ne winner).get
      assert(memo.peek(s, "k").exists(_ eq winner))
      assert(winner.storageLevel != StorageLevel.NONE, "winner lost its persist")
      assert(loser.storageLevel == StorageLevel.NONE,
        "the race loser's persisted copy was not released")
    } finally {
      pool.shutdown()
      SessionCaches.evictNow(s)
    }
  }

  test("a value keep rejects is returned and released, not stored") {
    val memo = SessionMemo.frames[String]
    val s = spark.newSession()
    var builds = 0
    def empty(): DataFrame = {
      builds += 1
      spark.range(0).withColumn("tag", lit("rejected")).persist(StorageLevel.DISK_ONLY)
    }
    val first = memo.get(s, "k")(empty())
    assert(first.count() == 0)
    assert(first.storageLevel == StorageLevel.NONE, "rejected build stayed persisted")
    assert(memo.peek(s, "k").isEmpty, "rejected build was memoized")
    memo.get(s, "k")(empty())
    assert(builds == 2, "a rejected key must rebuild on the next lookup")
    SessionCaches.evictNow(s)
  }

  test("evictNow drops and releases one session's entries, not a sibling's") {
    val memo = SessionMemo.frames[String]
    val (a, b) = (spark.newSession(), spark.newSession())
    val fa = memo.get(a, "k")(persisted(2))
    val fb = memo.get(b, "k")(persisted(3))
    SessionCaches.evictNow(a)
    assert(memo.peek(a, "k").isEmpty, "evicted session kept its entry")
    assert(fa.storageLevel == StorageLevel.NONE, "evicted frame was not released")
    assert(memo.peek(b, "k").exists(_ eq fb), "sibling session lost its entry")
    assert(fb.storageLevel != StorageLevel.NONE, "sibling's frame was released")
    SessionCaches.evictNow(b)
    assert(fb.storageLevel == StorageLevel.NONE)
  }
}
