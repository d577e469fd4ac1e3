package graft.tools

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

import org.apache.spark.sql.execution.FormattedMode

/** Plan printer: `explain("formatted")` of registered queries, so scan
  * pushdown (PushedFilters/ReadSchema), broadcast joins and
  * WholeStageCodegen spans can be inspected.
  *
  * Usage:
  *   graft.tools.Explain [sfDir] [query ...]
  *     prints each plan to stdout;
  *   graft.tools.Explain sfDir outDir suffix query[,query ...]
  *     writes `outDir/<query>_<suffix>.txt` per query (the before/after
  *     plan files under plans/).
  * The second argument is read as an out dir when it does not name
  * registered queries. Queries may be listed comma-separated.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val queries = graft.SparkEntry.queries
    def names(xs: Seq[String]) = xs.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val rest = args.toSeq.drop(1)
    val outDir = rest.headOption.filter(a => args.length >= 4 && !names(Seq(a)).forall(queries.contains))
    val (selected, write) = outDir match {
      case Some(dir) =>
        Files.createDirectories(Paths.get(dir))
        (names(rest.drop(2)), (n: String, plan: String) => {
          Files.writeString(Paths.get(dir, s"${n}_${rest(1)}.txt"), plan)
          println(s"wrote $n")
        })
      case None =>
        (if (rest.nonEmpty) names(rest)
         else Seq("q01_pricing_summary", "q02_revenue_by_nation",
           "q06_forecast_revenue", "ev01_hourly_stats", "ss01_topk_bruteforce"),
         (n: String, plan: String) =>
           println(s"\n===================== $n =====================\n$plan"))
    }
    val spark = graft.GraftSession()
    selected.foreach { n =>
      try write(n, queries(n)(spark, sfDir).queryExecution.explainString(FormattedMode))
      catch { case NonFatal(e) =>
        System.err.println(s"[explain] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
