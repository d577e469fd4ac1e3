package graft

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-lifetime bookkeeping for state keyed by SparkSession: every
  * [[SessionMemo]], plus the few session-owned resources that are not
  * memos (Graph's instance-keyed adjacency LRU, IndexStore's
  * footprint-checked fingerprint memo, Lineage's checkpoint files and
  * Bloom's broadcasts).
  *
  * That state would otherwise live as long as the JVM, so in a
  * long-lived multi-session JVM a stopped session (and every DataFrame
  * it pinned) would be retained forever. Each owner registers an
  * evictor once; each session is tracked once, and when its context
  * ends all evictors run for it.
  */
object SessionCaches {

  private val evictors =
    new java.util.concurrent.ConcurrentLinkedQueue[SparkSession => Unit]()
  private val tracked = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  /** Register a callback that drops one owner's entries for a session.
    * Call once per owner (from its initializer). */
  def registerEvictor(f: SparkSession => Unit): Unit = evictors.add(f)

  /** Run every evictor for `spark` NOW — the spec hook for eviction
    * contracts (onApplicationEnd cannot fire per-session in a shared
    * test context). Production eviction stays listener-driven. */
  private[graft] def evictNow(spark: SparkSession): Unit = {
    tracked.remove(spark)
    evictors.forEach(f => f(spark))
  }

  /** Ensure `spark`'s entries are evicted when its application ends.
    * Idempotent per session; call on every insert. */
  def track(spark: SparkSession): Unit =
    if (tracked.add(spark)) {
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          tracked.remove(spark)
          evictors.forEach(f => f(spark))
        }
      })
    }
}

/** A per-(session, key) memo: the corpus-sized intermediates, solves
  * and read-back plans that are built once per session, not once per
  * query invocation. It owns every rule those memos share:
  *   - each lookup tracks the session, and the memo registers its own
  *     evictor, so a session's entries drop when its application ends;
  *   - a built value that `keep` rejects is released and returned, but
  *     not stored. An empty build is the usual case: its plan snapshots
  *     the empty file listing and would freeze the key even after data
  *     lands;
  *   - inserts use putIfAbsent, and the copy that loses a race is
  *     released in favour of the winner;
  *   - every evicted or replaced value is released.
  * A race loser persisted from the same plan as the winner shares the
  * winner's cache entry (Spark caches by plan), so unpersisting it
  * drops the winner's blocks too: results are unchanged and the next
  * use materializes again. Evictors fire at CONTEXT stop (Spark has no per-newSession() death
  * hook), where Spark reclaims cached blocks anyway, so releasing on
  * eviction matters for [[SessionCaches.evictNow]] and any finer
  * eviction trigger, not for today's listener path. */
final class SessionMemo[K, V](keep: V => Boolean = (_: V) => true,
    release: V => Unit = (_: V) => ()) {

  private val m = scala.collection.concurrent.TrieMap.empty[(SparkSession, K), V]

  SessionCaches.registerEvictor(s =>
    m.keySet.toSeq.filter(_._1 eq s).foreach(k => m.remove(k).foreach(quietRelease)))

  // eviction runs inside the shared evictor loop: one failed release
  // must not stop the other owners' evictions
  private def quietRelease(v: V): Unit =
    try release(v) catch { case NonFatal(_) => () }

  /** The value memoized for `(s, k)`, building it on a miss. */
  def get(s: SparkSession, k: K)(build: => V): V = {
    SessionCaches.track(s)
    m.get((s, k)) match {
      case Some(v) => v
      case None =>
        val v = build
        if (!keep(v)) { release(v); v }
        else m.putIfAbsent((s, k), v) match {
          case Some(winner) => release(v); winner
          case None => v
        }
    }
  }

  /** The value memoized for `(s, k)`, if any; never builds. */
  def peek(s: SparkSession, k: K): Option[V] = m.get((s, k))

  /** Store `v` for `(s, k)` unconditionally (a pointer the caller
    * publishes, not a build), releasing the value it replaces. */
  def put(s: SparkSession, k: K, v: V): Unit = {
    SessionCaches.track(s)
    m.put((s, k), v).filter(_ != v).foreach(release)
  }

  /** Drop (and release) `k` in EVERY session — for a key whose backing
    * data this JVM just rewrote. */
  def invalidate(k: K): Unit =
    m.keySet.toSeq.filter(_._2 == k).foreach(key => m.remove(key).foreach(release))
}

object SessionMemo {
  /** `keep` for frames: reject an empty build (a limit-1 probe). */
  val nonEmpty: DataFrame => Boolean = df => !df.limit(1).isEmpty

  /** `release` for persisted frames. */
  val unpersist: DataFrame => Unit = df => df.unpersist(blocking = false)

  /** A memo of persisted frames: empty builds are not stored, and
    * race losers, rejected builds and evicted frames are unpersisted. */
  def frames[K]: SessionMemo[K, DataFrame] =
    new SessionMemo[K, DataFrame](nonEmpty, unpersist)
}
