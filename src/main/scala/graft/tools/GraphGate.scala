package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.tools.Scale.timed

/** Graph-analytics gate (the gram/sketch gate pattern applied to the
  * graph family): synthetic graphs ~35-70x sf0.1's trade-graph edge
  * count at the default size, generated map-side from spark.range, with
  * planted structure whose exact answers are known in closed form.
  *
  *  - BFS: a complete binary tree on `nTree` nodes (node i's parent is
  *    i/2), symmetrized. From seed 1, EXACTLY 2^d nodes sit at depth d
  *    (for d small vs the tree height), and everything deeper than
  *    `iters` is unreached — the whole (dist → count) histogram is
  *    closed-form. Certifies: frontier state stays node-sized, rounds
  *    past the wavefront are near-free, localCheckpoint lineage stays
  *    flat at 2x nTree edges.
  *  - Triangles: a K30 clique (C(30,3) = 4060 triangles) drowned in a
  *    complete-bipartite noise grid on disjoint node ids — bipartite
  *    graphs have no odd cycles, so the noise contributes hub-heavy
  *    WEDGES (degree ~1000 per noise node: the adversarial shape for
  *    wedge enumeration) but ZERO triangles; the exact count is 4060
  *    at any noise scale. Certifies the degree-orientation bound does
  *    its job where it matters.
  *
  * Size = nTree (default 20M); the noise grid's side is
  * sqrt(nTree/20) (1000), and HITS's block sides are 4, 3, 2 and 1
  * times that side. Results in docs/ROUND9.md.
  */
private[tools] object GraphGate {

  def run(spark: SparkSession, nTree: Long): Scale.Measures = {
    val noiseSide = math.sqrt(nTree / 20.0).toLong
    val iters = 4

    // ---- BFS on the symmetrized complete binary tree ----
    val child = spark.range(2, nTree + 1)
      .select(col("id").as("src"), expr("id div 2").as("dst"))
    val tree = child.unionByName(
      child.select(col("dst").as("src"), col("src").as("dst")))
    val (bfsCounts, bfsSec) = timed {
      graft.ops.Graph.bfsHops(tree, col("node") === 1L, iters)
        .groupBy(col("dist")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
    // closed form: 2^d nodes at depth d (tree is deep enough that no
    // level within `iters` is truncated), the rest unreached
    val expected = (0 to iters).map(d => d -> (1L << d)).toMap +
      (-1 -> (nTree - ((1L << (iters + 1)) - 1)))

    // ---- triangles: K30 clique + complete-bipartite hub noise ----
    val k = 30L
    val clique = spark.range(k).as("x").crossJoin(spark.range(k).as("y"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .filter(col("a") < col("b"))
    // noise grid: left hub L+i, right hub R+j, all i,j < noiseSide —
    // noiseSide^2 edges, every node degree = noiseSide, no triangles
    val (off1, off2) = (1000000L, 2000000L)
    val noise = spark.range(noiseSide * noiseSide).select(
      (lit(off1) + col("id") % noiseSide).as("a"),
      (lit(off2) + expr(s"id div $noiseSide")).as("b"))
    val und = clique.unionByName(noise)
    val (nTri, triSec) = timed {
      graft.ops.Graph.triangleCount(und).collect()(0).getLong(0)
    }
    val triExpected = k * (k - 1) * (k - 2) / 6

    // ---- HITS on two planted complete-bipartite blocks ----
    // Block A: 4000 customers × 3000 suppliers (12M edges); block B:
    // 2000 × 1000 (2M) at the default size — ~40x sf0.1's trade graph. Disconnected
    // blocks + complete bipartite inside each ⇒ the recurrence
    // collapses to FOUR scalars (per-block hub/authority), so the
    // exact integer fixed point is computable in closed form and every
    // node's score is asserted EXACTLY; the denser block must top both
    // rankings. Certifies: per-half-step state stays node-sized
    // (10k rows against 14M edges), the truncation keeps rounds flat.
    val (cA, sA, cB, sB) = (4 * noiseSide, 3 * noiseSide, 2 * noiseSide, noiseSide)
    val blockA = spark.range(cA * sA).select(
      (col("id") % cA).as("src"),
      (lit(10000000L) + expr(s"id div $cA")).as("dst"))
    val blockB = spark.range(cB * sB).select(
      (lit(100000L) + col("id") % cB).as("src"),
      (lit(20000000L) + expr(s"id div $cB")).as("dst"))
    val fwd = blockA.unionByName(blockB)
    val rev = fwd.select(col("dst").as("src"), col("src").as("dst"))
    val nodes = fwd.select(col("src").as("node"))
      .unionByName(fwd.select(col("dst").as("node"))).distinct()
    val hitsIters = 3
    val ((aMap, hMap), hitsSec) = timed {
      val (a, h) = graft.ops.Graph.hits(fwd, rev, nodes, nodes.count(), hitsIters)
      (a.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
        h.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    }
    // the block-uniform recurrence on four scalars — exact expected scores
    val scale = graft.ops.Graph.scaleFor(cA + sA + cB + sB)
    var (hA, hB) = (scale, scale)
    var (aA, aB) = (0L, 0L)
    for (_ <- 1 to hitsIters) {
      val (arA, arB) = (cA * hA, cB * hB)
      val qa = math.max(1L, math.max(arA, arB) / scale)
      aA = arA / qa; aB = arB / qa
      val (hrA, hrB) = (sA * aA, sB * aB)
      val qh = math.max(1L, math.max(hrA, hrB) / scale)
      hA = hrA / qh; hB = hrB / qh
    }
    val hitsOk = aMap.size == sA + sB && hMap.size == cA + cB &&
      aA > aB && hA > hB &&
      aMap.forall { case (n, v) => v == (if (n >= 20000000L) aB else aA) } &&
      hMap.forall { case (n, v) => v == (if (n >= 100000L) hB else hA) }

    assert(bfsCounts == expected && nTri == triExpected && hitsOk,
      s"graph gate bound violated: bfs=$bfsCounts tri=$nTri " +
        s"hits=($aA,$aB,$hA,$hB)")
    Seq("nTree" -> nTree, "noiseEdges" -> noiseSide * noiseSide,
      "bfs_sec" -> bfsSec, "tri_sec" -> triSec,
      "bfs_counts" -> bfsCounts.toSeq.sorted.map(p => Seq(p._1, p._2)),
      "n_triangles" -> nTri, "tri_expected" -> triExpected,
      "hits_edges" -> (cA * sA + cB * sB), "hits_sec" -> hitsSec,
      "hits_scores" -> Seq(aA, aB, hA, hB))
  }
}
