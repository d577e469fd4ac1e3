package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RelationalSpec extends SparkSpec {

  test("q08b approx distinct within 5% of exact") {
    val exact = Relational.queries("q08_distinct_counts")(spark, sf)
      .select(col("l_returnflag"), col("n_parts")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = Relational.queries("q08b_approx_distinct")(spark, sf)
      .select(col("l_returnflag"), col("approx_parts")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, e) =>
      val a = approx(k)
      assert(math.abs(a - e).toDouble / e <= 0.05, s"$k: approx $a vs exact $e")
    }
  }

  test("entry flagship query returns rows") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query runs at sf0.001 and yields rows") {
    // every query runs, so one failure cannot hide the ones after it
    val failed = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { if (fn(spark, sf).count() > 0) None else Some(name -> "0 rows") }
        catch { case scala.util.control.NonFatal(e) =>
          Some(name -> (e.getClass.getSimpleName + ": " +
            Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString))
        }
    }
    assert(failed.isEmpty, s"${failed.length} queries failed at sf0.001:\n" +
      failed.map { case (nm, m) => s"  $nm -> $m" }.mkString("\n"))
  }

  test("oracle keys are a subset of query keys") {
    val missing = graft.SparkEntry.oracleSql.keySet -- graft.SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }
}
