package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}

/** One top-k path. A per-group top-k goes through
  * [[graft.ops.Similarity.topK]] (`row_number() <= k` over a window),
  * which Spark plans as a partial WindowGroupLimit below the exchange:
  * each map task keeps only its local top-k per group before the
  * shuffle. A typed top-k Aggregator or a `groupByKey` top-k under
  * src/main, or a `row_number()` window in src/main/scala/graft/ops
  * outside the helper, is a second way to do the same thing, so the
  * source scan fails on it. The plan pin checks the map-side prune on
  * ss04, ss08 and tx16. */
class TopKGateSpec extends SparkSpec {

  private val main = java.nio.file.Paths.get("src/main/scala")
  private val ops = "src/main/scala/graft/ops/"
  private val helperFile = ops + "Similarity.scala"

  private val aggregatorTopK =
    """(?i)(?:class|object)\s+\w*top\w*[^{]*?\bextends\s+Aggregator\s*\[""".r
  private val groupByKeyTopK = ("""groupByKey\s*\([^)]*\)\s*""" +
    """(?:\.\s*mapValues\s*\([^)]*\)\s*)?\.\s*(?:agg|mapGroups|flatMapGroups)\s*[(\[]""").r
  private val rowNumber = """row_number\s*\(\s*\)\s*\.\s*over\b""".r

  private val sources: Map[String, String] = {
    val files = java.nio.file.Files.walk(main)
    try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString.replace('\\', '/') ->
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .toMap
    finally files.close()
  }

  private def lineOf(text: String, at: Int): Int = text.substring(0, at).count(_ == '\n') + 1

  test("the patterns recognise the shapes they gate") {
    assert(aggregatorTopK.findFirstIn(
      "class TopK(k: Int) extends Aggregator[Scored, Seq[Scored], Seq[Scored]] {").nonEmpty)
    assert(aggregatorTopK.findFirstIn(
      "final class BoundedTopN(n: Int)\n    extends Aggregator[Row, Buf, Buf] {").nonEmpty)
    assert(aggregatorTopK.findFirstIn("class Hll extends Aggregator[Long, Buf, Long]").isEmpty)
    assert(groupByKeyTopK.findFirstIn(
      "scored.groupByKey(_._1).mapValues(_._2)\n  .agg(TopK(10).toColumn.name(\"top\"))").nonEmpty)
    assert(groupByKeyTopK.findFirstIn(
      ".groupByKey(_.q_id)\n  .mapGroups((q, it) => it.toSeq.sortBy(-_.score).take(k))").nonEmpty)
    assert(groupByKeyTopK.findFirstIn(
      ".groupByKey(_.user_id)\n  .flatMapGroupsWithState(OutputMode.Update, t) {").isEmpty)
    assert(rowNumber.findFirstIn(".withColumn(\"rank\", row_number().over(w))").nonEmpty)
    assert(rowNumber.findFirstIn("Spark plans `row_number() <= k` as").isEmpty)
  }

  test("no top-k Aggregator or groupByKey top-k in src/main") {
    assert(sources.keySet.contains(helperFile), s"no sources under $main")
    val offenders = sources.toSeq.sortBy(_._1).flatMap { case (path, text) =>
      (aggregatorTopK.findAllMatchIn(text) ++ groupByKeyTopK.findAllMatchIn(text))
        .map(m => s"$path:${lineOf(text, m.start)}")
    }
    assert(offenders.isEmpty,
      "per-group top-k goes through Similarity.topK:\n" + offenders.mkString("\n"))
  }

  test("no row_number() window in src/main/scala/graft/ops outside Similarity.topK") {
    val helper = sources(helperFile)
    val from = helper.indexOf("def topK(")
    assert(from >= 0, s"Similarity.topK not found in $helperFile")
    val until = helper.indexOf("\n\n", from)
    val offenders = sources.toSeq.sortBy(_._1).filter(_._1.startsWith(ops)).flatMap {
      case (path, text) =>
        rowNumber.findAllMatchIn(text)
          .filterNot(m => path == helperFile && m.start > from && m.start < until)
          .map(m => s"$path:${lineOf(text, m.start)}")
    }
    assert(offenders.isEmpty,
      "per-group top-k goes through Similarity.topK:\n" + offenders.mkString("\n"))
  }

  // the executed plan, through AQE's stages
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: nodes(a.executedPlan)
    case q: QueryStageExec => p +: nodes(q.plan)
    case _ => p +: p.children.flatMap(nodes)
  }

  // a partial WindowGroupLimit under `p` before any further exchange
  private def partialLimitBelow(p: SparkPlan): Boolean = p match {
    case w: WindowGroupLimitExec => w.mode == Partial
    case _: Exchange => false
    case q: QueryStageExec => partialLimitBelow(q.plan)
    case _ => p.children.exists(partialLimitBelow)
  }

  test("ss04, ss08 and tx16 prune each group to k map-side, below their exchange") {
    Seq("ss04_topk_aggregated", "ss08_mips_topk", "tx16_bm25_topk").foreach { q =>
      val df: DataFrame = SparkEntry.queries(q)(spark, sf)
      df.collect() // finalize this QueryExecution's adaptive plan
      val plan = df.queryExecution.executedPlan
      assert(nodes(plan).exists {
        case e: ShuffleExchangeExec => partialLimitBelow(e.child)
        case _ => false
      }, s"$q: no partial WindowGroupLimit below an exchange:\n$plan")
    }
  }
}
