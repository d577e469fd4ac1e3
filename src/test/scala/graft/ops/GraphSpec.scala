package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {

  /** Independent reference: the same integer recurrence computed with
    * plain Scala maps (no Spark), for cross-checking the distributed
    * plan on graphs small enough to enumerate. */
  private def refPagerank(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val scale = Graph.scaleFor(deg.size.toLong)
    var rank = deg.keys.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val inbound = edges.groupBy(_._2).view.mapValues { es =>
        es.map { case (s, _) => rank(s) / deg(s) }.sum
      }.toMap
      rank = inbound.map { case (n, c) => n -> (15L * scale / 100 + 85L * c / 100) }
    }
    rank
  }

  /** Reference HITS: the same integer max-normalized recurrence in
    * plain Scala, with JOIN semantics mirrored exactly — a node absent
    * from the state contributes nothing, and an aggregation target
    * with no matched in-edges gets NO row (not a zero row). */
  private def refHits(edges: Seq[(Long, Long)], nodes: Seq[Long],
      iters: Int): (Map[Long, Long], Map[Long, Long]) = {
    val scale = Graph.scaleFor(nodes.size.toLong)
    def norm(v: Map[Long, Long]): Map[Long, Long] = {
      val q = math.max(1L, v.values.max / scale)
      v.view.mapValues(_ / q).toMap
    }
    var h = nodes.map(_ -> scale).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      a = norm(edges.filter(e => h.contains(e._1)).groupBy(_._2)
        .view.mapValues(_.map(e => h(e._1)).sum).toMap)
      h = norm(edges.filter(e => a.contains(e._2)).groupBy(_._1)
        .view.mapValues(_.map(e => a(e._2)).sum).toMap)
    }
    (a, h)
  }

  test("hits matches the integer recurrence on a bipartite graph and " +
    "ranks the busiest hub highest") {
    import spark.implicits._
    // customers {0,2,4} → suppliers {1,3,5}; customer 2 buys from all
    val edges = Seq((0L, 1L), (0L, 3L), (2L, 1L), (2L, 3L), (2L, 5L), (4L, 5L))
    val fwd = edges.toDF("src", "dst")
    val rev = edges.map(_.swap).toDF("src", "dst")
    val nodes = (0L to 5L).toDF("node")
    val (aDf, hDf) = Graph.hits(fwd, rev, nodes, 6L, iters = 3)
    val a = aDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val h = hDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (refA, refH) = refHits(edges, 0L to 5L, 3)
    assert(a == refA, s"authorities diverged: $a vs $refA")
    assert(h == refH, s"hubs diverged: $h vs $refH")
    assert(h(2L) == h.values.max, "3-edge customer 2 should top the hubs")
    // suppliers 1 and 3 have identical in-neighborhoods → equal authority
    assert(a(1L) == a(3L))
  }

  test("gr06 query: kinds follow node parity, every node scored once, " +
    "max-normalization lands the top score in [scale, 2*scale)") {
    val out = Graph.queries("gr06_hits")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.nonEmpty)
    out.foreach { case (id, kind, _) =>
      assert(kind == (if (id % 2 == 0) "customer" else "supplier"),
        s"node $id kind $kind")
    }
    assert(out.map(x => (x._1, x._2)).distinct.length == out.length,
      "a node was scored twice")
    // output = all suppliers + all customers = the full node set, so
    // the derived scale is recoverable from the row count
    val scale = Graph.scaleFor(out.length.toLong)
    Seq("customer", "supplier").foreach { k =>
      val scores = out.filter(_._2 == k).map(_._3)
      assert(scores.forall(_ >= 0L))
      assert(scores.max >= scale && scores.max < 2 * scale,
        s"$k max ${scores.max} outside [$scale, ${2 * scale})")
    }
  }

  test("scaleFor holds 1e12 below 100k nodes, then drops a decade per decade") {
    assert(Graph.scaleFor(1L) == 1000000000000L)
    assert(Graph.scaleFor(99999L) == 1000000000000L)
    assert(Graph.scaleFor(100000L) == 100000000000L)
    assert(Graph.scaleFor(999999L) == 100000000000L)
    assert(Graph.scaleFor(1000000L) == 10000000000L)
    // headroom invariant at every decade boundary: 85 * N * scale < 2^63
    (5 to 14).foreach { d =>
      val n = math.pow(10, d).toLong
      val worst = BigInt(85) * BigInt(n) * BigInt(Graph.scaleFor(n))
      assert(worst < BigInt(2).pow(63), s"headroom broken at N=1e$d")
    }
    intercept[IllegalArgumentException](Graph.scaleFor(1000000000000000L * 10))
  }

  test("adjacency memo is bounded: fresh edge instances don't grow persists forever") {
    // an external caller rebuilding its edge DataFrame per invocation
    // misses the reference-identity memo every time; the cache must
    // unpersist superseded entries instead of pinning one DISK_ONLY
    // pair per call for the session lifetime
    import spark.implicits._
    def freshEdges() = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    Graph.pagerank(freshEdges(), iters = 1).collect()
    val after1 = spark.sparkContext.getPersistentRDDs.size
    (1 to 8).foreach(_ => Graph.pagerank(freshEdges(), iters = 1).collect())
    val after9 = spark.sparkContext.getPersistentRDDs.size
    // 8 extra cache-missing calls may add at most the cache bound's
    // worth of persisted pairs, never one pair per call
    assert(after9 - after1 <= 8,
      s"persisted RDDs grew $after1 -> $after9 across 8 cache-missing calls")
  }

  test("a second pagerank over the same edges instance runs no job while it is built") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 2L)).toDF("src", "dst")
    val first = Graph.pagerank(edges).collect().map(_.toString).sorted
    var second: org.apache.spark.sql.DataFrame = null
    val jobs = jobsDuring(spark) { second = Graph.pagerank(edges) }
    assert(jobs == 0, s"a warm pagerank ran $jobs job(s) before it was executed")
    assert(second.collect().map(_.toString).sorted.sameElements(first))
    // personalizedPagerank reads the same stored node count
    val pprJobs = jobsDuring(spark) {
      Graph.personalizedPagerank(edges, col("node") === 1L)
    }
    assert(pprJobs == 0, s"a warm personalizedPagerank ran $pprJobs job(s) while built")
  }

  test("a second gr06 build runs one action per HITS half-step and no " +
      "node count, and its scores are unchanged") {
    import org.apache.spark.scheduler.SparkListenerJobStart
    def scores(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted
    val first = scores(Graph.queries("gr06_hits")(spark, sf))
    // the SQL executions the warm build's jobs run under: one lazy
    // checkpoint per half-step (2 × 3 iterations); a count of the
    // memoized node table would be one more
    var second: org.apache.spark.sql.DataFrame = null
    val actions = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    eventsDuring(spark) {
      case e: SparkListenerJobStart =>
        Option(e.properties.getProperty("spark.sql.execution.id")).foreach(actions.add)
    } { second = Graph.queries("gr06_hits")(spark, sf) }
    assert(actions.size == 2 * 3,
      s"a warm gr06 build ran ${actions.size} actions, not one per half-step")
    assert(scores(second).sameElements(first))
  }

  test("pagerank survives a 150k-spoke star that overflows the fixed 1e12 scale") {
    // worst-case mass concentration: every spoke's whole rank flows to
    // the hub, so inbound ~ 1.5e5 * scale; at the old fixed 1e12 the
    // 85x intermediate is 1.3e19 > 2^63 and ANSI mode aborts — the
    // derived scale (6 digits -> 1e11) must keep it exact instead.
    import spark.implicits._
    val n = 150000L
    val hub = 0L
    val e = spark.range(1, n + 1).select(col("id").as("src"), lit(hub).as("dst"))
      .unionByName(spark.range(1, n + 1)
        .select(lit(hub).as("src"), col("id").as("dst")))
    val got = Graph.pagerank(e.toDF(), iters = Graph.Iters)
    // closed form of the same integer recurrence: all spokes identical
    val scale = Graph.scaleFor(n + 1)
    val t = 15L * scale / 100
    var (h, sp) = (scale, scale)
    for (_ <- 1 to Graph.Iters) {
      val h2 = t + 85L * sp * n / 100 // spokes have deg 1
      val s2 = t + 85L * (h / n) / 100 // hub splits its rank n ways
      h = h2; sp = s2
    }
    val hubRank = got.filter(col("node") === hub).collect()(0).getLong(1)
    val spokeRanks = got.filter(col("node") =!= hub)
      .select(col("rank")).distinct().collect().map(_.getLong(0))
    assert(hubRank == h, s"hub rank $hubRank != closed-form $h")
    assert(spokeRanks.toSeq == Seq(sp),
      s"spoke ranks ${spokeRanks.toSeq} != closed-form $sp")
  }

  test("pagerank matches the integer recurrence exactly on a path graph") {
    import spark.implicits._
    // path 1-2-3, symmetrized: 2 is structurally central
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
    val got = Graph.pagerank(e.toDF("src", "dst"), iters = Graph.Iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == refPagerank(e, Graph.Iters))
    // endpoints are symmetric, the center dominates
    assert(got(1L) == got(3L))
    assert(got(2L) > got(1L))
  }

  test("pagerank matches the recurrence on a star and ranks the hub highest") {
    import spark.implicits._
    val e = (1L to 4L).flatMap(l => Seq((0L, l), (l, 0L)))
    val got = Graph.pagerank(e.toDF("src", "dst"), iters = Graph.Iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == refPagerank(e, Graph.Iters))
    assert((1L to 4L).forall(l => got(0L) > got(l)))
  }

  test("triangle count matches brute force on K4 and on a deterministic random graph") {
    import spark.implicits._
    def brute(edges: Seq[(Long, Long)]): Long = {
      val es = edges.map { case (a, b) => (a min b, a max b) }.toSet
      val nodes = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      nodes.combinations(3).count { case Seq(a, b, c) =>
        es((a, b)) && es((b, c)) && es((a, c))
      }
    }
    def got(edges: Seq[(Long, Long)]): Long =
      Graph.triangleCount(edges.toDF("a", "b")).collect()(0).getLong(0)
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    assert(got(k4) == 4L && brute(k4) == 4L)
    // deterministic pseudo-random graph: includes hubs + isolated-ish
    // nodes, so the degree-orientation path is exercised on ties too
    val rnd = for {
      i <- 0L until 30L; j <- (i + 1) until 30L
      if (i * 31 + j * 17) % 5 == 0
    } yield (i, j)
    assert(got(rnd) == brute(rnd))
  }

  /** Independent BFS reference: plain Scala queue on the enumerated
    * graph. */
  private def refBfs(edges: Seq[(Long, Long)], seeds: Set[Long],
      iters: Int): Map[Long, Int] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = edges.map(_._1).toSet
    var dist = seeds.filter(nodes).map(_ -> 0).toMap
    for (i <- 1 to iters) {
      val next = dist.filter(_._2 == i - 1).keys
        .flatMap(n => adj.getOrElse(n, Nil)).toSet
      dist = dist ++ next.filterNot(dist.contains).map(_ -> i)
    }
    dist ++ nodes.filterNot(dist.contains).map(_ -> -1)
  }

  test("personalizedPagerank hand-checked on a path: seed keeps teleport, " +
      "mass spreads like a frontier, floor arithmetic exact") {
    import spark.implicits._
    // path 0-1-2 symmetrized; seed {0}; scale 1e12 (3 nodes), tps 0.15e12
    // r1: 0 -> tps; 1 -> 85% of 1e12
    // r2: 0 -> tps + 85% of (0.85e12 DIV 2); 1 -> 85% of tps;
    //     2 -> 85% of (0.85e12 DIV 2)
    val e = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val got = Graph.personalizedPagerank(e, col("node") === 0L, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      0L -> 511250000000L,  // 150e9*1000/1000... 0.15e12 + (85*425e9) DIV 100
      1L -> 127500000000L,  // (85 * 0.15e12) DIV 100
      2L -> 361250000000L)) // (85 * 425e9) DIV 100
    // support set only: no rank-0 tail materializes on a bigger graph
    val e2 = (Seq((0L, 1L), (1L, 0L)) ++ Seq((10L, 11L), (11L, 10L)))
      .toDF("src", "dst")
    val far = Graph.personalizedPagerank(e2, col("node") === 0L, iters = 3)
      .collect().map(_.getLong(0)).toSet
    assert(far == Set(0L, 1L), s"disconnected component leaked: $far")
  }

  test("bfsHops matches the reference on a path with an unreachable component") {
    import spark.implicits._
    // path 0-1-2-3-4-5 (symmetrized) + disconnected pair 10-11; seed 0.
    // 4 rounds reach node 4 but NOT node 5; 10/11 stay unreached.
    val path = (0L to 4L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
    val extra = Seq((10L, 11L), (11L, 10L))
    val e = path ++ extra
    val got = Graph.bfsHops(e.toDF("src", "dst"), col("node") === 0L, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == refBfs(e, Set(0L), 4))
    assert(got(4L) == 4 && got(5L) == -1 && got(10L) == -1)
  }

  test("Lineage.truncate upgrades to a RELIABLE checkpoint when the " +
      "session has a checkpoint dir (same results, files on disk)") {
    import spark.implicits._
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "test session unexpectedly has a dir")
    val dir = tempDir("graft_ckpt").toString
    sc.setCheckpointDir(dir)
    // on a local master truncate auto-selects LOCAL checkpoints (same
    // durability, half the cost); force the reliable path to test it
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try {
      val path = (0L to 4L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
      val got = Graph.bfsHops(path.toDF("src", "dst"), col("node") === 0L, 4)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == refBfs(path, Set(0L), 4))
      // the frontier rounds actually wrote reliable checkpoint files
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val wrote = try walk.filter(
        p => java.nio.file.Files.isRegularFile(p)).count()
      finally walk.close()
      assert(wrote > 0, s"no reliable checkpoint files under $dir")
    } finally {
      spark.conf.unset("spark.graft.checkpoint.reliable")
      // SparkContext has no unsetCheckpointDir; reflectively clear the
      // option so later tests see the pristine session
      val f = sc.getClass.getDeclaredField("checkpointDir")
      f.setAccessible(true)
      f.set(sc, None)
      assert(sc.getCheckpointDir.isEmpty)
    }
  }

  test("bfsHops takes the MIN over multiple seeds and over multiple paths") {
    import spark.implicits._
    // diamond: 0-1, 0-2, 1-3, 2-3 symmetrized — node 3 reachable two
    // ways at dist 2; seeds {0, 3} make every node dist <= 1
    val e = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val one = Graph.bfsHops(e.toDF("src", "dst"), col("node") === 0L, 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(one == Map(0L -> 0, 1L -> 1, 2L -> 1, 3L -> 2))
    val two = Graph.bfsHops(e.toDF("src", "dst"),
        col("node") === 0L || col("node") === 3L, 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(two == Map(0L -> 0, 3L -> 0, 1L -> 1, 2L -> 1))
  }

  test("gr03 bipartite parity: customers at even hop distances, suppliers at odd") {
    val df = Graph.queries("gr03_bfs_hops")(spark, sf).cache()
    assert(df.count() > 0)
    // seeds are customers and the trade graph is bipartite, so any
    // REACHED customer is at even distance, any supplier at odd;
    // unreached (-1) rows may be either kind
    assert(df.filter(col("dist") >= 0 &&
      ((col("kind") === "customer" && col("dist") % 2 =!= 0) ||
        (col("kind") === "supplier" && col("dist") % 2 =!= 1))).count() == 0)
    df.unpersist()
  }

  test("gr01 every rank is at least the teleport floor and kinds split by parity") {
    val df = Graph.queries("gr01_pagerank")(spark, sf).cache()
    assert(df.filter(col("rank") < 15L * Graph.Scale / 100).count() == 0)
    assert(df.filter(
      (col("node_id") % 2 === 0 && col("kind") =!= "customer") ||
        (col("node_id") % 2 === 1 && col("kind") =!= "supplier")).count() == 0)
  }

  /** Independent reference LPA: the same deterministic recurrence
    * (most frequent neighbor label, ties to the smallest) in plain
    * Scala collections. */
  private def refLabelProp(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var labels = out.keys.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      labels = out.map { case (n, nbrs) =>
        val counts = nbrs.map(labels).groupBy(identity).view.mapValues(_.size)
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    labels
  }

  test("labelProp finds two planted cliques across a bridge, and matches " +
    "the reference recurrence on a deterministic random graph") {
    import spark.implicits._
    // two K10 cliques {0..9} and {100..109}, one bridge edge 9—100:
    // after 3 synchronous rounds every node in clique A carries label 0
    // and every node in clique B carries label 100 (hand-derivable:
    // round 1 is min-neighbor-id, rounds 2-3 flood the clique minima)
    val cliqueA = for (i <- 0L to 9L; j <- 0L to 9L if i != j) yield (i, j)
    val cliqueB = for (i <- 100L to 109L; j <- 100L to 109L if i != j) yield (i, j)
    val planted = cliqueA ++ cliqueB ++ Seq((9L, 100L), (100L, 9L))
    val got = Graph.labelProp(planted.toDF("src", "dst"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 9L).forall(got(_) == 0L), s"clique A: $got")
    assert((100L to 109L).forall(got(_) == 100L), s"clique B: $got")
    assert(got == refLabelProp(planted, 3))

    // deterministic pseudo-random graph: the distributed argmax (incl.
    // tie-breaks) must equal the driver recurrence node-for-node
    val rnd = new scala.util.Random(13)
    val raw = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }.distinct
    val sym = (raw ++ raw.map(_.swap)).distinct
    val got2 = Graph.labelProp(sym.toDF("src", "dst"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == refLabelProp(sym, 3))
  }

  test("gr04 communities are nontrivial: fewer labels than nodes, both kinds present") {
    val census = Graph.queries("gr04_label_prop")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val nodes = census.map(_._3).sum
    val labels = census.map(_._1).distinct.length
    assert(labels < nodes, s"LPA degenerated: $labels labels over $nodes nodes")
    assert(census.map(_._2).distinct.sorted.toSeq == Seq("customer", "supplier"))
  }
}
