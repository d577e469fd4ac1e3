package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Iterative graph analytics beyond connected components (Dedup.scala):
  * PageRank by power iteration, the canonical "state table vs static
  * edge table" workload.
  *
  * Scale design — the dd08 CC loop's shape, applied to rank mass:
  *   - the edge list (with out-degrees) is computed ONCE, pre-partitioned
  *     on `src`, and persisted DISK_ONLY: per iteration only the small
  *     (node, rank) state table shuffles into the join; the edge table —
  *     the 100 TB side — never moves again;
  *   - each iteration is exactly one join + one aggregation shuffle on
  *     `dst`, with map-side partial sums (longs, not text);
  *   - nothing is ever collected to the driver.
  *
  * Exactness design — ranks are INTEGERS: 1.0 of rank mass = 1e12, the
  * contribution of node j to each out-neighbor is `rank_j DIV deg_j`
  * (floor division), and damping is `(85 * inbound) DIV 100` plus a
  * constant teleport of 0.15e12. Every operation is integral and every
  * value positive, so the fixed 5-iteration recurrence is bit-exact in
  * any engine — the DuckDB oracle replays it with five unrolled CTEs
  * (standard SQL forbids aggregation inside a recursive CTE, and
  * unrolling is the honest equivalent). Floor-division rank leaks mean
  * total mass is not exactly conserved — that is the documented cost of
  * bit-exactness, ~deg ulps of 1e-12 per node per round, irrelevant at
  * rank scale 1e12.
  *
  * Overflow headroom — ENFORCED, not just documented: a node's inbound
  * sum is < total mass = N * scale, and the 85x intermediate must stay
  * under 2^63, so the scale is DERIVED from the node count as
  * 10^min(12, 17 - digits(N)) — one decade down per decade of N above
  * 10^5, exactly 1e12 below it (so small-graph results are unchanged).
  * digits(N) is a string length, not a float log: both engines compute
  * the identical scale with zero boundary drift, and N * scale < 1e17
  * gives 85 * 1e17 = 8.5e18 < 2^63 at ANY node count up to the loudly
  * `require`d 10^15 ceiling (below which teleport = 15 * scale / 100
  * stays exact). Rank resolution falls as N grows; arithmetic stays
  * exact and the recurrence is unchanged.
  *
  * Graph: the customer—supplier relationship graph from orders x
  * lineitem (who trades with whom), symmetrized. Customer keys map to
  * even node ids (2k), supplier keys to odd (2k+1), so the two key
  * spaces never collide.
  */
object Graph {

  private[graft] val Scale = 1000000000000L // rank 1.0 at small N
  private[graft] val Iters = 5

  /** The overflow-safe rank scale for an N-node graph: 10^min(12,
    * 17 - digits(N)). See the headroom paragraph above; private[graft]
    * so the spec can pin the decade boundaries. */
  private[graft] def scaleFor(n: Long): Long = {
    val digits = math.max(n, 1L).toString.length
    require(digits <= 15,
      s"pagerank: $n nodes exceeds the 10^15 integer-exactness ceiling " +
        "(teleport 15*scale/100 would lose exactness below scale=100)")
    (1 to math.min(12, 17 - digits)).foldLeft(1L)((a, _) => a * 10)
  }

  // ONE repartitioned+persisted adjacency (with out-degrees) and its
  // distinct-node table per (session, edges-instance), SHARED by
  // pagerank and BFS: both materialize the adjacency ONCE ("write the
  // adjacency list once" at 100 TB). Per-INVOCATION persists leaked
  // one copy per call for the session lifetime (the ss09
  // quantized-corpus leak, round-9 ADVICE), and per-ALGORITHM variants
  // stored the same edge table twice — BFS simply ignores the deg
  // column pagerank needs. gr01/gr03 pass the memoized tradeEdges
  // instance, so reference keying hits across calls; ad-hoc callers
  // (specs) get per-instance builds that evict with the session.
  // Bounded, persist-aware memo keyed by (session, input DataFrame
  // INSTANCE). Reference-identity keys are right for the memoized
  // gr01/gr02/gr03 paths (they pass stable instances), but an external
  // caller that rebuilds its edge DataFrame per invocation would
  // otherwise accumulate one DISK_ONLY pair per call until session
  // eviction — the per-invocation-persist leak class. Cap live entries
  // per session; on overflow the oldest entry's tables are unpersisted
  // (a consumer mid-query just recomputes — the persist is a cache,
  // never a correctness dependency). Builds run OUTSIDE the lock; a
  // lost insert race unpersists the loser's copy. `frames` names the
  // persisted frames inside an entry.
  private final class BoundedPairCache[V](max: Int, frames: V => Seq[DataFrame]) {
    private val m = scala.collection.mutable.LinkedHashMap
      .empty[(SparkSession, DataFrame), V]
    private def release(v: V): Unit = frames(v).foreach(_.unpersist(blocking = false))
    def getOrElseUpdate(k: (SparkSession, DataFrame), build: => V): V =
      m.synchronized(m.get(k)) match {
        case Some(v) => v
        case None =>
          val v = build
          m.synchronized {
            m.get(k) match {
              case Some(w) =>
                release(v)
                w
              case None =>
                m.put(k, v)
                val mine = m.keysIterator.filter(_._1 eq k._1).toSeq
                mine.dropRight(max).foreach(old => m.remove(old).foreach(release))
                v
            }
          }
      }
    def evict(s: SparkSession): Unit = m.synchronized {
      // unpersist what we evict (the SessionMemo rule)
      m.keysIterator.filter(_._1 eq s).toSeq.foreach { k =>
        m.remove(k).foreach(v =>
          try release(v)
          catch { case scala.util.control.NonFatal(_) => () })
      }
    }
  }

  /** The persisted adjacency (with out-degrees), its distinct-node
    * table and that table's row count, all built together: the count
    * fixes pagerank's scale, and a warm call must not run a job for it. */
  private final case class Adjacency(adj: DataFrame, nodes: DataFrame, n: Long)

  private val adjCache = new BoundedPairCache[Adjacency](max = 4,
    a => Seq(a.adj, a.nodes))
  graft.SessionCaches.registerEvictor(adjCache.evict)

  private def adjacency(edges: DataFrame): Adjacency = {
    val s = edges.sparkSession
    graft.SessionCaches.track(s)
    adjCache.getOrElseUpdate((s, edges), {
      val disk = org.apache.spark.storage.StorageLevel.DISK_ONLY
      val parts = s.sessionState.conf.numShufflePartitions
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val adj = edges.join(deg, "src")
        .repartition(parts, col("src")).persist(disk)
      // materialize before any iteration fans out: every round scans
      // this table
      adj.count()
      // one tiny agg over the persisted adjacency materializes the node
      // table (reused as the rank init) and yields the node count
      val nodes = adj.select(col("src").as("node")).distinct().persist(disk)
      Adjacency(adj, nodes, nodes.count())
    })
  }

  // triangleCount's two materialized edge tables (canonical + oriented),
  // memoized per (session, input instance) — see the comment in
  // triangleCount.
  private val triCache = new BoundedPairCache[(DataFrame, DataFrame, DataFrame)](
    max = 4, t => Seq(t._1, t._2, t._3))
  graft.SessionCaches.registerEvictor(triCache.evict)

  // gr02's co-purchase projection, memoized UNPERSISTED per (session,
  // dir) so repeated gr02 calls hand triangleCount the same instance
  // (its triCache keys on it) instead of rebuilding per call.
  private val copurchaseCache = new graft.SessionMemo[String, DataFrame]

  // gr06's directed adjacency pair: the customer→supplier half of the
  // memoized symmetrized trade graph (even src) and its transpose (odd
  // src — on a symmetrized table the transpose IS the other half), each
  // repartitioned on src and persisted DISK_ONLY. HITS joins the static
  // edges from BOTH sides every round, so each direction gets its own
  // partitioning and only the (node, score) state shuffles per round.
  // Filtering tradeEdges (not re-extracting) shares the
  // IndexStore-materialized extraction with gr01/gr03/gr05. An empty
  // graph is not memoized (the symmetrized halves are same-sized, so
  // probing one suffices).
  private val hitsAdjCache = new graft.SessionMemo[String, (DataFrame, DataFrame)](
    keep = p => graft.SessionMemo.nonEmpty(p._1),
    release = p => { graft.SessionMemo.unpersist(p._1); graft.SessionMemo.unpersist(p._2) })

  private def hitsAdj(s: SparkSession, d: String): (DataFrame, DataFrame) =
    hitsAdjCache.get(s, d) {
      val disk = org.apache.spark.storage.StorageLevel.DISK_ONLY
      val parts = s.sessionState.conf.numShufflePartitions
      val te = tradeEdges(s, d)
      def half(parity: Int): DataFrame = {
        val h = te.filter(col("src") % 2 === parity)
          .repartition(parts, col("src")).persist(disk)
        h.count()
        h
      }
      (half(0), half(1))
    }

  /** Fixed-iteration integer PageRank over a directed edge list with
    * columns (src, dst). Returns (node, rank); every node that appears
    * as a source gets a rank (on a symmetrized graph: every node). */
  def pagerank(edges: DataFrame, iters: Int = Iters): DataFrame = {
    // the node count that fixes the scale was taken when the adjacency
    // was built (a single scalar, never row data); the persisted node
    // table is the rank init
    val Adjacency(adj, nodes, n) = adjacency(edges)
    val scale = scaleFor(n)
    val teleport = 15L * scale / 100 // 0.15, exactly (scale >= 100)
    var ranks = nodes.withColumn("rank", lit(scale))
    for (_ <- 1 to iters) {
      ranks = adj.join(ranks, adj("src") === ranks("node"))
        .select(col("dst"), expr("rank DIV deg").as("share"))
        .groupBy(col("dst"))
        .agg(sum(col("share")).as("contrib"))
        .select(col("dst").as("node"),
          (lit(teleport) + expr("(85 * contrib) DIV 100")).as("rank"))
    }
    ranks
  }

  private def kind(node: Column): Column =
    when(node % 2 === 0, lit("customer")).otherwise(lit("supplier"))

  /** PERSONALIZED PageRank — teleport mass lands only on the seed set
    * (0.15·scale per seed, un-normalized: the seed-relative ordering is
    * what PPR consumers use, and skipping the ÷|S| keeps every operation
    * the same floor arithmetic as [[pagerank]]), so rank measures
    * proximity-weighted influence FROM the seeds — the graph-based
    * data-selection primitive ("take documents/entities most connected
    * to this trusted set"). Integer-exact by gr01's argument: the
    * recurrence is r_i = 0.15·scale·1_S + (85·inbound) DIV 100 with the
    * same derived overflow-safe scale (total mass ≤ |S|·scale ≤
    * N·scale, the enforced 2^63 headroom bound). Rank support grows
    * like a BFS frontier: only reached nodes appear, which is the
    * useful output (everything else is rank 0).
    *
    * Scale shape = [[pagerank]]'s, plus one detail: each round's state
    * is a FULL OUTER join of the dst-aggregated contributions (already
    * hash-partitioned on dst by the groupBy — no re-shuffle) with the
    * small seed table, because a seed must keep emitting teleport mass
    * even in rounds where nothing flows back into it yet. */
  def personalizedPagerank(edges: DataFrame, seedPred: Column,
      iters: Int = Iters): DataFrame = {
    val Adjacency(adj, nodes, n) = adjacency(edges)
    val scale = scaleFor(n)
    val tps = 15L * scale / 100
    val seeds = nodes.filter(seedPred).select(col("node").as("s_node"))
    var ranks = seeds.select(col("s_node").as("node"), lit(scale).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = adj.join(ranks, adj("src") === ranks("node"))
        .select(col("dst"), expr("rank DIV deg").as("share"))
        .groupBy(col("dst"))
        .agg(sum(col("share")).as("contrib"))
      // (A round-14 attempt to decompose this full_outer into a
      // broadcast left_outer + seed-only anti union was rejected: the
      // anti half is a SECOND structural reference to contrib, which
      // is the gr03/gr06 plan-doubling trap — 2^rounds copies of the
      // chain. The full_outer's cost is a node-sized sort of an
      // already-dst-partitioned table; it is the cheap, single-
      // reference formulation.)
      ranks = contrib
        .join(seeds, col("dst") === col("s_node"), "full_outer")
        .select(coalesce(col("dst"), col("s_node")).as("node"),
          (when(col("s_node").isNotNull, lit(tps)).otherwise(lit(0L)) +
            expr("(85 * coalesce(contrib, 0L)) DIV 100")).as("rank"))
    }
    ranks
  }

  /** HITS (Kleinberg 1999, "Authoritative sources in a hyperlinked
    * environment") over a DIRECTED edge list — hubs point at good
    * authorities, authorities are pointed at by good hubs. Unlike
    * gr01's PageRank (which runs on the symmetrized graph and assigns
    * one score), HITS keeps the direction: on the bipartite trade
    * graph the hub vector lives on customers (who buy from many
    * well-connected suppliers) and the authority vector on suppliers —
    * two DIFFERENT rankings PageRank's single symmetric score cannot
    * express.
    *
    * Exactness — integer MAX-normalization (the textbook variant that
    * normalizes scores into [0, 1] by the largest entry, here [0,
    * ~scale] in integers): each half-step is a raw integer sum over
    * in-edges followed by `v DIV q` with q = max(1, max(v) DIV scale).
    * Everything is integral and positive, so the fixed recurrence is
    * bit-exact in any engine and the DuckDB oracle replays it with
    * unrolled CTEs (gr01's argument). L2 normalization — the other
    * textbook choice — needs a square root, which no integer engine
    * replays exactly; max-normalization preserves the same ordering
    * and ratio structure per vector.
    *
    * Overflow headroom, ENFORCED by the same derived scale as gr01
    * (scaleFor: N·scale ≤ 1e17 < 2^63, require'd below 10^15 nodes):
    * after a norm step every score is < 2·scale (if max ≥ scale then
    * q ≥ max DIV scale ≥ max/(2·scale) so v/q ≤ 2·scale; else q = 1
    * and v ≤ max < scale), and the init h⁰ = scale satisfies the same
    * invariant — so every raw sum is < N·2·scale ≤ 2e17, no value ever
    * nears 2^63, and the only global statistic per half-step is a MAX
    * (never a full-mass SUM, which could reach E·scale on a dense
    * graph and overflow a 64-bit accumulator).
    *
    * Scale shape = pagerank's, doubled: the static adjacency is
    * materialized TWICE — once partitioned on src (the hub→authority
    * sum joins it from the src side) and once transposed (the
    * authority→hub sum) — so per iteration only the two small (node,
    * score) state tables shuffle; each agg's output partitioning
    * already matches the next join's key. The per-half-step max is a
    * 1-row aggregate crossJoined back as a broadcast.
    *
    * Returns (authorities, hubs) as two (node, a|h) frames: generic
    * directed graphs score every node on both sides, and gluing them
    * into one row per node would cost a full-outer join no consumer of
    * a bipartite graph needs. `n` is `nodes`' row count, which fixes
    * the scale; the caller passes the count it already holds, so
    * building the plan runs no job for it. */
  def hits(fwd: DataFrame, rev: DataFrame, nodes: DataFrame, n: Long,
      iters: Int): (DataFrame, DataFrame) = {
    val scale = scaleFor(n)
    // Each raw sum is consumed TWICE (the max and the divide), so left
    // alone the join chain re-executes 2^half-steps times — the gr03
    // plan-doubling class, measured 45.9 s → ~5 s at sf0.01. The
    // truncation is node-sized (one score per node), never edge-sized.
    // (THREE rejected variants, all MEASURED slower: persist-raw +
    // truncate-once-per-round at the same wall time; round 14's
    // persist-raw + driver-scalar max — cached plans bypass AQE, so
    // the in-step join loses its runtime broadcast and sort-merges
    // the 0.8M-row adjacency per half-step, 2.4 s → 6.0 s at sf0.1;
    // and round 16's single-reference unpartitioned-window max (the
    // q19c bounded idiom) — it removes the checkpoints and the
    // construct-time stage execution entirely, but AQE stage reuse
    // does NOT dedup the final union's shared a-chain subtree (the
    // first half-step executed twice, 12.5 s + 6.4 s task time) and
    // the single-partition window tail serialized 1.2 s — wall 3.0 →
    // 3.9 s. The checkpoint shape keeps every consumer under AQE and
    // every subtree executed once.)
    def norm(raw: DataFrame, c: String): DataFrame = {
      val t = Lineage.truncate(raw)
      val q = t.agg(expr(s"greatest(1L, max($c) DIV ${scale}L)").as("q"))
      t.crossJoin(broadcast(q))
        .select(col("node"), expr(s"$c DIV q").as(c))
    }
    def halfStep(adj: DataFrame, state: DataFrame,
        in: String, out: String): DataFrame =
      norm(adj.join(state, adj("src") === state("node"))
        .select(col("dst"), col(in))
        .groupBy(col("dst"))
        .agg(sum(col(in)).as(out))
        .select(col("dst").as("node"), col(out)), out)
    // classic init: every node a hub at full scale; nodes with no
    // out-edges drop out of h after round 1 by construction (they
    // never appear as a fwd src), exactly as the oracle's join does
    var h = nodes.withColumn("h", lit(scale))
    var a = h.select(col("node"), lit(0L).as("a")).limit(0)
    for (_ <- 1 to iters) {
      a = halfStep(fwd, h, "h", "a")
      h = halfStep(rev, a, "a", "h")
    }
    (a, h)
  }

  /** Multi-source BFS: minimum hop distance from a seed set, `iters`
    * rounds — the reachability / blast-radius primitive (how far does
    * an entity's influence extend through the trade graph). Trivially
    * integer-exact, so the DuckDB oracle replays it with unrolled
    * frontier CTEs (same reason as pagerank: no aggregation inside a
    * recursive CTE).
    *
    * Scale shape = gr01's: the edge table is pre-partitioned on `src`
    * and persisted ONCE (memoized adjacency, shared across calls);
    * each round is one join — only the small frontier state shuffles,
    * the edges never move again. */
  def bfsHops(edges: DataFrame, seedPred: Column, iters: Int): DataFrame = {
    val Adjacency(adj, nodes, _) = adjacency(edges) // deg column unused here
    // DELTA-FRONTIER supersteps with lineage TRUNCATION each round —
    // both halves of the Pregel contract, and both measured to matter:
    //  - frontier, not full state: only nodes FIRST reached last round
    //    send messages; once the wavefront passes, later rounds join a
    //    near-empty frontier instead of re-sending from every settled
    //    node (the carry-∪-messages min-recurrence re-joined ALL
    //    reached nodes every round: 5.1s at sf0.1).
    //  - localCheckpoint, not persist: round i's state is BUILT FROM
    //    dist_{i-1} (anti-join) AND UNIONED back into dist_i, so the
    //    logical plan doubles per round — persist caches the DATA but
    //    Catalyst still re-analyzes the exponential tree (measured:
    //    3755 InMemoryTableScan nodes in the 4-round plan, 9.2s spent
    //    mostly in the driver). Checkpointing truncates the plan to a
    //    scan of the materialized partitions (eager, node-sized), the
    //    standard treatment for iterative algorithms; Lineage.truncate
    //    upgrades to a RELIABLE checkpoint automatically when the
    //    session has a checkpoint dir configured (local checkpoints
    //    don't survive executor loss).
    var frontier = Lineage.truncate(
      nodes.filter(seedPred).withColumn("dist", lit(0)))
    var dist = frontier
    for (i <- 1 to iters) {
      val next = adj.join(frontier, adj("src") === frontier("node"))
        .select(col("dst").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
        .withColumn("dist", lit(i))
      val nextT = Lineage.truncate(next)
      frontier = nextT
      dist = dist.unionByName(nextT)
    }
    // unreached nodes surface as dist = -1 (the audit a plain BFS
    // silently drops); the anti-join runs once, against the final state
    dist.unionByName(
      nodes.join(dist, Seq("node"), "left_anti").withColumn("dist", lit(-1)))
  }

  /** Synchronous label propagation (Raghavan et al. 2007, "Near linear
    * time algorithm to detect community structures in large-scale
    * networks"), made DETERMINISTIC so it can be oracle'd: labels start
    * as node ids; each round every node adopts the most frequent label
    * among its neighbors, ties broken toward the SMALLEST label (the
    * paper breaks ties uniformly at random — the one change, and the
    * standard one for reproducible pipelines). Fixed `iters` rounds,
    * synchronous updates (all nodes flip together off the previous
    * round's labels).
    *
    * Scale shape = pagerank's: the memoized pre-partitioned adjacency
    * never moves; each round shuffles only (node, label) state — one
    * partial-agged (dst, label) count and one per-dst integer argmax
    * (max of (cnt, −label) structs, so the tie rule is inside the
    * aggregate, not a window). Everything is integer, so the DuckDB
    * oracle replays the rounds as unrolled CTEs exactly like gr01/gr03. */
  def labelProp(edges: DataFrame, iters: Int): DataFrame = {
    val Adjacency(adj, nodes, _) = adjacency(edges) // deg column unused here
    var labels = nodes.withColumn("label", col("node"))
    for (_ <- 1 to iters) {
      labels = adj.join(labels, adj("src") === labels("node"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("dst").as("node"), (-col("m.nl")).as("label"))
    }
    labels
  }

  /** Triangle count over an undirected edge list (a, b) with a < b,
    * using the degree-ordered orientation: each edge points from its
    * lower-(degree, id) endpoint to the higher, so every out-degree is
    * O(sqrt(edges)) on any graph — the wedge join (pairs of out-edges
    * sharing a source) is bounded even on power-law hubs, where the
    * naive per-node neighbor product explodes. Triangles = wedges whose
    * far endpoints are themselves an oriented edge (one semi-join).
    * Three shuffles total: degree agg, wedge self-join, closure join. */
  def triangleCount(undIn: DataFrame): DataFrame = {
    // the canonical edge list feeds both directions of the degree scan
    // AND the closure test; the oriented list feeds both sides of the
    // wedge self-join. Materialize each ONCE (DISK_ONLY — edge lists
    // scale with the corpus): without these, the whole upstream
    // (projection self-join + distinct) recomputes up to three times in
    // one DAG — measured ~3x the runtime at sf0.1. Both tables are
    // memoized per (session, input-instance) via triCache — the same
    // per-invocation-persist-leak fix as adjacency (each bench rep used
    // to pin a fresh copy of both for the session lifetime).
    val (und, oriented, adj) = {
      val s = undIn.sparkSession
      graft.SessionCaches.track(s)
      triCache.getOrElseUpdate((s, undIn), {
        val disk = org.apache.spark.storage.StorageLevel.DISK_ONLY
        val u = undIn.persist(disk)
        val bothDirs = u.select(col("a").as("n"), col("b").as("m"))
          .unionByName(u.select(col("b").as("n"), col("a").as("m")))
        val deg = bothDirs.groupBy(col("n")).agg(count(lit(1)).as("deg"))
        val o = bothDirs
          .join(deg, "n")
          .join(deg.select(col("n").as("m"), col("deg").as("degM")), "m")
          .filter(col("deg") < col("degM") ||
            (col("deg") === col("degM") && col("n") < col("m")))
          .select(col("n").as("u"), col("m").as("v"))
          .persist(disk)
        o.count()
        // the sorted out-neighbor arrays are consumed TWICE per count
        // (attached to both endpoints of every edge), so unmaterialized
        // the groupBy+sort executed twice per invocation — node-sized,
        // so the persist is small and the second attach is a cache read
        val a = o.groupBy(col("u"))
          .agg(sort_array(collect_list(col("v"))).as("nbrs"))
          .persist(disk)
        a.count()
        (u, o, a)
      })
    }
    // adjacency-intersection closure: every triangle u→v, u→w, v→w is
    // found exactly once on its base edge (u, v) as w ∈ N⁺(u) ∩ N⁺(v).
    // Materializing WEDGES instead (pairs of out-edges per source, then
    // a semi-join against the edge list) is the same asymptotic work
    // but shuffles the wedge set — 41M rows at sf0.1 vs 1.2M edges, a
    // measured ~4x slowdown. Here the only shuffles are edge-sized: one
    // groupBy(u) to build sorted out-neighbor arrays, two joins to
    // attach them to each edge's endpoints, and the codegen'd
    // zero-allocation merge count (SetOps.intersectCountSorted) runs
    // map-side. An endpoint with no out-list contributes zero, so the
    // nv attach can be an inner join. Orientation bounds every
    // neighbor array at O(sqrt(edges)), hubs included.
    oriented
      .join(adj, "u")
      .withColumnRenamed("nbrs", "nu")
      .join(adj.select(col("u").as("v"), col("nbrs").as("nv")), "v")
      .select(graft.functions.SetOps.intersectCountSorted(
        col("nu"), col("nv")).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Triangle count of the part co-purchase graph (parts appearing in
    // the same order). The customer—supplier graph is bipartite (no odd
    // cycles), so gr02 builds the one-mode projection instead; the
    // count is a single exact integer, and the DuckDB oracle recomputes
    // it with the same orientation rule.
    "gr02_triangles" -> { (s, d) =>
      val und = copurchaseCache.get(s, d) {
        val line = Tables.load(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"))
        line.as("x").join(line.as("y"),
            col("x.l_orderkey") === col("y.l_orderkey") &&
              col("x.l_partkey") < col("y.l_partkey"))
          .select(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
          .distinct()
      }
      triangleCount(und)
    },

    "gr01_pagerank" -> { (s, d) =>
      pagerank(tradeEdges(s, d))
        .select(col("node").as("node_id"), col("rank"))
        .withColumn("kind", kind(col("node_id")))
    },

    // BFS hop distance from the seed customers (custkey < 10 ⇔ even
    // node id < 20) through the symmetrized trade graph, 4 rounds;
    // output is the (dist, kind) reachability histogram — on a
    // bipartite graph customers sit at even distances, suppliers at
    // odd, so the kind split doubles as a structural self-check. The
    // unreached census (dist = -1) is included.
    "gr03_bfs_hops" -> { (s, d) =>
      bfsHops(tradeEdges(s, d),
          col("node") % 2 === 0 && col("node") < 20, iters = 4)
        .groupBy(col("dist"), kind(col("node")).as("kind"))
        .agg(count(lit(1)).as("n_nodes"))
    },

    // Personalized PageRank from the gr03 seed customers through the
    // trade graph, 4 rounds: proximity-weighted influence of the
    // trusted seed set — the "select entities closest to this known-good
    // set" primitive. Support set only (unreached nodes are rank 0 and
    // never materialize), replayed in DuckDB as unrolled CTEs with the
    // identical floor arithmetic.
    "gr05_ppr" -> { (s, d) =>
      personalizedPagerank(tradeEdges(s, d),
          col("node") % 2 === 0 && col("node") < 20, iters = 4)
        .select(col("node").as("node_id"), col("rank"))
        .withColumn("kind", kind(col("node_id")))
    },

    // Community census of the trade graph after 3 deterministic LPA
    // rounds: communities are label-keyed, and the (label, kind) split
    // shows each community's customer/supplier composition (communities
    // straddle the bipartition — that is what makes them communities
    // and not the trivial two-sided split).
    "gr04_label_prop" -> { (s, d) =>
      labelProp(tradeEdges(s, d), iters = 3)
        .groupBy(col("label"), kind(col("node")).as("kind"))
        .agg(count(lit(1)).as("n_nodes"))
    },

    // HITS on the DIRECTED customer→supplier graph, 3 rounds: hub
    // scores rank customers by how well-connected the suppliers they
    // buy from are; authority scores rank suppliers by the quality of
    // the customers buying from them — the two-sided ranking gr01's
    // symmetric PageRank cannot express. Bipartite structure makes the
    // (kind, score) union exact: authorities live on odd (supplier)
    // nodes, hubs on even (customer) nodes, never both.
    "gr06_hits" -> { (s, d) =>
      val Adjacency(_, nodes, n) = adjacency(tradeEdges(s, d))
      val (fwd, rev) = hitsAdj(s, d)
      val (a, h) = hits(fwd, rev, nodes, n, iters = 3)
      // kind() is the ONE place the node-id parity convention lives;
      // on the bipartite graph a-side nodes are all suppliers (odd),
      // h-side all customers (even)
      a.select(col("node").as("node_id"), kind(col("node")).as("kind"),
          col("a").as("score"))
        .unionByName(h.select(col("node").as("node_id"),
          kind(col("node")).as("kind"), col("h").as("score")))
    }
  )

  // The derived edge list is the expensive shared input of gr01 and
  // gr03 (orders⋈lineitem + distinct, ~2/3 of either query's cost at
  // sf0.1) — memoized PERSISTED per (session, dir), the same
  // materialize-the-intermediate-once discipline as Dedup.pairCache:
  // at 100 TB the relationship graph is extracted from the fact tables
  // once and every graph analytic reads the materialization.
  private val edgeCache =
    new graft.SessionMemo[String, DataFrame](release = graft.SessionMemo.unpersist)

  /** The symmetrized customer—supplier trade graph shared by gr01 and
    * gr03: customer keys map to even node ids (2k), supplier keys to
    * odd (2k+1), so the two key spaces never collide, and the two
    * directions of the bipartite graph are disjoint row sets. */
  private def tradeEdges(s: SparkSession, d: String): DataFrame =
    edgeCache.get(s, d) {
      // IndexStore-managed like the dedup/ANN intermediates: with an
      // index root configured the extraction runs ONCE across JVMs and
      // later sessions scan the materialized edge parquet; the
      // fingerprint covers BOTH source tables (comma-list), so editing
      // either orders or lineitem marks the persisted graph stale.
      graft.IndexStore.dataFrame(s, d, "trade_edges",
        "orders,lineitem", eagerWhenUnmanaged = true) {
        val orders = Tables.load(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        val line = Tables.load(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"))
        val e0 = orders.join(line, col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .distinct()
        e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      }
    }

  // The recurrence unrolled: r_{i} = teleport + 0.85 * sum of inbound
  // floor-shares of r_{i-1}, all in BIGINT (DuckDB's SUM widens to
  // HUGEINT; the cast narrows it back — values fit by the ENFORCED
  // headroom argument above, and an overflowing cast would fail
  // loudly). The scale is derived from the node count exactly as
  // scaleFor does it — digit count via string length, POWER(10, k)
  // exact in a double for k <= 12 — so both engines pick the identical
  // scale at any N, INCLUDING the 10^15 ceiling: scaleFor's require is
  // mirrored as a CASE branch whose string-to-BIGINT cast errors
  // loudly (DuckDB evaluates CASE branches lazily — verified), so
  // above the ceiling the two derivations fail together instead of
  // the SQL silently computing a sub-100 scale with inexact teleport.
  private def pagerankSql: String = {
    val rounds = (1 to Iters).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS node,
         |    CAST((SELECT t FROM sc) + (85 * SUM(r.rank // d.d)) // 100 AS BIGINT) AS rank
         |  FROM edges e
         |  JOIN r${i - 1} r ON e.src = r.node
         |  JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (
       |  SELECT src, dst FROM e0
       |  UNION ALL
       |  SELECT dst AS src, src AS dst FROM e0),
       |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
       |sc AS (
       |  SELECT scale, 15 * scale // 100 AS t FROM (
       |    SELECT CASE
       |      WHEN length(CAST(GREATEST(COUNT(*), 1) AS VARCHAR)) > 15
       |      THEN CAST('pagerank oracle: node count exceeds the 10^15 integer-exactness ceiling (scaleFor would require-fail; teleport 15*scale//100 loses exactness below scale=100)' AS BIGINT)
       |      ELSE CAST(POWER(10, LEAST(12,
       |        17 - length(CAST(GREATEST(COUNT(*), 1) AS VARCHAR)))) AS BIGINT)
       |      END AS scale FROM deg) z),
       |r0 AS (SELECT src AS node, (SELECT scale FROM sc) AS rank FROM deg),
       |$rounds
       |SELECT node AS node_id, rank,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind
       |FROM r$Iters""".stripMargin
  }

  // PPR unrolled like pagerank, with two differences: r0 is the seed
  // set at full scale, and each round FULL OUTER joins the inbound
  // aggregate with the seed set so a seed keeps its teleport mass in
  // rounds with no inbound yet. Same derived scale, same BIGINT floor
  // arithmetic, same HUGEINT-narrowing cast.
  private def pprSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT COALESCE(c.dst, s.node) AS node,
         |    CAST(CASE WHEN s.node IS NOT NULL THEN (SELECT t FROM sc) ELSE 0 END
         |      + (85 * COALESCE(c.contrib, 0)) // 100 AS BIGINT) AS rank
         |  FROM (
         |    SELECT e.dst, SUM(r.rank // d.d) AS contrib
         |    FROM edges e
         |    JOIN r${i - 1} r ON e.src = r.node
         |    JOIN deg d ON e.src = d.src
         |    GROUP BY e.dst) c
         |  FULL OUTER JOIN seeds s ON c.dst = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (
       |  SELECT src, dst FROM e0
       |  UNION ALL
       |  SELECT dst AS src, src AS dst FROM e0),
       |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
       |sc AS (
       |  SELECT scale, 15 * scale // 100 AS t FROM (
       |    SELECT CASE
       |      WHEN length(CAST(GREATEST(COUNT(*), 1) AS VARCHAR)) > 15
       |      THEN CAST('ppr oracle: node count exceeds the 10^15 integer-exactness ceiling' AS BIGINT)
       |      ELSE CAST(POWER(10, LEAST(12,
       |        17 - length(CAST(GREATEST(COUNT(*), 1) AS VARCHAR)))) AS BIGINT)
       |      END AS scale FROM deg) z),
       |seeds AS (
       |  SELECT src AS node FROM deg WHERE src % 2 = 0 AND src < 20),
       |r0 AS (SELECT node, (SELECT scale FROM sc) AS rank FROM seeds),
       |$rounds
       |SELECT node AS node_id, rank,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind
       |FROM r$iters""".stripMargin
  }

  // BFS unrolled the same way as pagerank: round i = min over (round
  // i−1) ∪ (neighbors of round i−1, +1) — min is the only aggregate,
  // so every round is a plain GROUP BY and the replay is integer-exact.
  private def bfsSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""d$i AS (
         |  SELECT node, MIN(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, d.dist + 1 AS dist
         |    FROM edges e JOIN d${i - 1} d ON e.src = d.node) t
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (
       |  SELECT src, dst FROM e0
       |  UNION ALL
       |  SELECT dst AS src, src AS dst FROM e0),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |d0 AS (
       |  SELECT node, 0 AS dist FROM nodes
       |  WHERE node % 2 = 0 AND node < 20),
       |$rounds,
       |final AS (
       |  SELECT dist, node FROM d$iters
       |  UNION ALL
       |  SELECT -1 AS dist, n.node FROM nodes n
       |  WHERE NOT EXISTS (SELECT 1 FROM d$iters r WHERE r.node = n.node))
       |SELECT CAST(dist AS INT) AS dist,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       |  COUNT(*) AS n_nodes
       |FROM final GROUP BY 1, 2""".stripMargin
  }

  // LPA unrolled: each round is a neighbor-label count plus a
  // ROW_NUMBER argmax with the same (cnt DESC, label ASC) tie rule the
  // Spark side encodes as max(struct(cnt, -label)). Integer-exact.
  private def labelPropSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node, l.label, COUNT(*) AS cnt
         |  FROM edges e JOIN l${i - 1} l ON e.src = l.node
         |  GROUP BY e.dst, l.label),
         |l$i AS (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |      ROW_NUMBER() OVER (PARTITION BY node
         |        ORDER BY cnt DESC, label ASC) AS rn
         |    FROM c$i) t
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (
       |  SELECT src, dst FROM e0
       |  UNION ALL
       |  SELECT dst AS src, src AS dst FROM e0),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
       |$rounds
       |SELECT label,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       |  COUNT(*) AS n_nodes
       |FROM l$iters GROUP BY 1, 2""".stripMargin
  }

  // HITS unrolled: per round one in-edge sum + MAX-normalization per
  // side, all BIGINT floor arithmetic (DuckDB's SUM widens to HUGEINT;
  // the cast narrows it back — per-node sums stay < N·2·scale ≤ 2e17 by
  // the enforced headroom argument on `hits`). The scale derivation
  // mirrors scaleFor digit-for-digit, ceiling included (gr01's loudly
  // failing CASE branch).
  private def hitsSql(iters: Int): String = {
    // ar$i/hr$i are each consumed twice (the MAX scalar subquery and
    // the normalize), so without AS MATERIALIZED the inliner
    // re-expands the whole round prefix per reference — exponential in
    // the round count (measured 62 s → 0.1 s at sf0.01; the emb10/
    // recursive-CTE lesson)
    val rounds = (1 to iters).map { i =>
      s"""ar$i AS MATERIALIZED (
         |  SELECT e.dst AS node, CAST(SUM(h.h) AS BIGINT) AS a
         |  FROM e0 e JOIN h${i - 1} h ON e.src = h.node
         |  GROUP BY e.dst),
         |a$i AS MATERIALIZED (
         |  SELECT node, CAST(a // GREATEST(1,
         |    (SELECT MAX(a) FROM ar$i) // (SELECT scale FROM sc)) AS BIGINT) AS a
         |  FROM ar$i),
         |hr$i AS MATERIALIZED (
         |  SELECT e.src AS node, CAST(SUM(a.a) AS BIGINT) AS h
         |  FROM e0 e JOIN a$i a ON e.dst = a.node
         |  GROUP BY e.src),
         |h$i AS MATERIALIZED (
         |  SELECT node, CAST(h // GREATEST(1,
         |    (SELECT MAX(h) FROM hr$i) // (SELECT scale FROM sc)) AS BIGINT) AS h
         |  FROM hr$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
       |sc AS MATERIALIZED (
       |  SELECT CASE
       |    WHEN length(CAST(GREATEST(COUNT(*), 1) AS VARCHAR)) > 15
       |    THEN CAST('hits oracle: node count exceeds the 10^15 integer-exactness ceiling (scaleFor would require-fail)' AS BIGINT)
       |    ELSE CAST(POWER(10, LEAST(12,
       |      17 - length(CAST(GREATEST(COUNT(*), 1) AS VARCHAR)))) AS BIGINT)
       |    END AS scale FROM nodes),
       |h0 AS (SELECT node, (SELECT scale FROM sc) AS h FROM nodes),
       |$rounds
       |SELECT node AS node_id, 'supplier' AS kind, a AS score FROM a$iters
       |UNION ALL
       |SELECT node AS node_id, 'customer' AS kind, h AS score FROM h$iters""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "gr01_pagerank" -> pagerankSql,

    "gr06_hits" -> hitsSql(3),

    "gr05_ppr" -> pprSql(4),

    "gr03_bfs_hops" -> bfsSql(4),

    "gr04_label_prop" -> labelPropSql(3),

    // Same orientation rule, same single-apex counting argument; the
    // closure test is EXISTS against the canonical a < b edge list.
    "gr02_triangles" ->
      """WITH und AS (
        |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |both_dirs AS (
        |  SELECT a AS n, b AS m FROM und
        |  UNION ALL
        |  SELECT b AS n, a AS m FROM und),
        |deg AS (SELECT n, COUNT(*) AS deg FROM both_dirs GROUP BY n),
        |oriented AS (
        |  SELECT bd.n AS u, bd.m AS v
        |  FROM both_dirs bd
        |  JOIN deg dn ON bd.n = dn.n
        |  JOIN deg dm ON bd.m = dm.n
        |  WHERE dn.deg < dm.deg OR (dn.deg = dm.deg AND bd.n < bd.m)),
        |wedges AS (
        |  SELECT x.v AS a, y.v AS b
        |  FROM oriented x JOIN oriented y ON x.u = y.u AND x.v < y.v)
        |SELECT COUNT(*) AS n_triangles
        |FROM wedges w
        |WHERE EXISTS (SELECT 1 FROM und e WHERE e.a = w.a AND e.b = w.b)""".stripMargin
  )
}
