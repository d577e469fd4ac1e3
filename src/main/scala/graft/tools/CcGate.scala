package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Connected-components gate: one giant low-diameter component
  * (hub-and-spoke over 90% of the nodes) plus one LONG CHAIN over the
  * remaining 10% — the chain is the adversarial case for label
  * propagation, because the min label must traverse the full path and
  * only pointer jumping keeps the round count logarithmic (a 1M-node
  * chain must converge in ~log2(1M) ≈ 20 rounds, not 1M).
  *
  * Size = nodes (default 10M); the component count must be exactly 2.
  * Results are recorded in docs/ROUND6.md.
  */
private[tools] object CcGate {

  def run(spark: SparkSession, n: Long): Scale.Measures = {
    val giantN = n / 10 * 9
    val hubs = 1024L
    // giant component: every node points at one of 1024 hubs; hubs form a
    // ring — diameter ~hubs/2 pre-compression, tiny after pointer jumping
    val spokes = spark.range(0, giantN)
      .select(col("id").as("a"), (col("id") % hubs).as("b"))
    val ring = spark.range(0, hubs)
      .select(col("id").as("a"), ((col("id") + 1) % hubs).as("b"))
    // long chain over the remaining nodes: giantN .. n-1
    val chain = spark.range(giantN, n - 1)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    val edges = spokes.union(ring).union(chain)

    val (labels, rounds) = graft.ops.Dedup.connectedComponentsWithStats(edges)
    val comps = labels.select(col("cluster_rep")).distinct().count()
    val nodes = labels.count()
    require(comps == 2, s"expected exactly 2 components, got $comps")
    Seq("nodes" -> nodes, "chain_nodes" -> (n - giantN), "rounds" -> rounds,
      "n_components" -> comps)
  }
}
