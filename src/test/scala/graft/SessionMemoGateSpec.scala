package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan gate: per-session memoization has ONE implementation,
  * [[SessionMemo]]. Hand-written copies of its rules (a TrieMap keyed by
  * SparkSession plus its own evictor) drifted apart before it existed,
  * so a new copy is a test failure. The allowlist names the session-owned
  * state that is deliberately not a SessionMemo; an entry that no longer
  * matches the source fails too, so the list cannot go stale. */
class SessionMemoGateSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala")

  /** A TrieMap declaration whose key is, or starts with, SparkSession. */
  private val sessionTrieMap =
    """TrieMap\s*(?:\.\s*empty\s*)?\[\s*\(?\s*(?:org\.apache\.spark\.sql\.)?SparkSession\b""".r
  private val evictorCall = """SessionCaches\s*\.\s*registerEvictor\b""".r

  /** path under src/main/scala → (registerEvictor calls, session-keyed
    * TrieMaps) it may hold, and why. */
  private val allowed: Map[String, (Int, Int, String)] = Map(
    "graft/ops/Graph.scala" -> ((2, 0,
      "BoundedPairCache: an LRU keyed on the DataFrame instance (adjCache, triCache)")),
    "graft/IndexStore.scala" -> ((1, 1,
      "fpCache: checked against the file footprint on every call")),
    "graft/ops/Lineage.scala" -> ((1, 0,
      "checkpoint files the session owns, not a memo")),
    "graft/functions/Bloom.scala" -> ((1, 0,
      "broadcasts the session owns, not a memo")))

  private val sources: Map[String, String] = {
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString.replace('\\', '/') ->
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .toMap
    finally files.close()
  }

  test("the patterns recognise the shapes they gate") {
    assert(sessionTrieMap.findFirstIn(
      "scala.collection.concurrent.TrieMap\n    .empty[(SparkSession, String), Int]").nonEmpty)
    assert(sessionTrieMap.findFirstIn("TrieMap.empty[SparkSession, SparkSession]").nonEmpty)
    assert(sessionTrieMap.findFirstIn("TrieMap.empty[(String, String), String]").isEmpty)
    assert(evictorCall.findFirstIn("graft.SessionCaches.registerEvictor(s =>").nonEmpty)
  }

  test("no session-keyed TrieMap or registerEvictor outside SessionCaches.scala") {
    assert(sources.contains("graft/SessionCaches.scala"), s"no sources under $root")
    val offenders = sources.toSeq.sortBy(_._1).flatMap { case (path, text) =>
      val found = (evictorCall.findAllIn(text).size,
        sessionTrieMap.findAllIn(text).size)
      val want = allowed.get(path).map(a => (a._1, a._2)).getOrElse((0, 0))
      if (path == "graft/SessionCaches.scala" || found == want) None
      else Some(s"$path: ${found._1} registerEvictor call(s) and ${found._2} " +
        s"session-keyed TrieMap(s), allowed ${want._1} and ${want._2}")
    }
    assert(offenders.isEmpty,
      "per-session memos must use graft.SessionMemo (or update the allowlist " +
        "with a reason):\n" + offenders.mkString("\n"))
  }

  test("DfMemo is gone") {
    val users = sources.collect { case (p, t) if t.contains("DfMemo") => p }
    assert(users.isEmpty, s"DfMemo referenced in: ${users.mkString(", ")}")
  }
}
