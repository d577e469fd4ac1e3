package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorOps._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: array<float>`, 64-dim).
  *
  * Three tiers (ss04 is ss01 under a second registered name):
  *   - ss01: brute-force cosine top-k — the exact baseline. Queries are
  *     broadcast; the big side streams through a fused-codegen dot
  *     product, then a per-query window takes top-k. At 100 TB this is
  *     the *verification* kernel, not the search path.
  *   - ss02: random-hyperplane LSH — 16 sign bits, banded 2×8; candidates
  *     share a band bucket. Bucket join = one shuffle on (band, value);
  *     no all-pairs product. The scale path for pairwise near-dup.
  *   - ss03: IVF (inverted-file) — deterministic coarse centroids, each
  *     vector assigned to its nearest centroid (broadcast centroids,
  *     map-side argmax), queries probe the 3 nearest cells. The scale
  *     path for query-driven top-k: touches ~nprobe/ncells of the data.
  */
object Similarity {

  // ss09's per-subspace PQ codebooks — a property of (session, dir),
  // built once (M one-round Lloyd fits) and probed thereafter (the
  // IvfIndex build/probe split); evicted with the session.
  private val pqCodebookCache =
    new graft.SessionMemo[String, Seq[Seq[(Int, Seq[Int])]]]

  // The int8-quantized corpus (ss05's grid) — consumed by the PQ
  // build, the encode scan, the LUT collect, and the ss10 re-rank, and
  // previously re-persisted per ss09/emb03 INVOCATION (each bench rep
  // leaked another DISK_ONLY copy for the session lifetime). One
  // memoized persist per (session, dir), like the codebooks.
  /** emb05/emb06's driver-side eigensolve outputs: truncating integer
    * means, scaled eigenvector literals, vector count, integer trace,
    * and the raw Rayleigh eigenvalue estimate. */
  private final case class PcaSolve(m: Seq[Int], scaled: Array[Long],
      nVecs: Long, trace: Long, lamRaw: Double)

  // memoized per (session, dir): the corpus scans behind the solve
  // (mean agg + scatter agg) run once per session, not per
  // invocation/bench rep. Only a solved (non-empty corpus) result is
  // kept: a query issued before data lands must not pin "empty".
  private val pcaCache =
    new graft.SessionMemo[String, Option[PcaSolve]](keep = _.isDefined)

  private val PcaDim = 64
  private val JlDim = 16

  /** The shared eigensolve: two corpus aggregations (truncating
    * integer means; ScatterAggregate triangle) + 12 ascending-fold
    * power-iteration rounds on the collected d×d matrix, sign fix,
    * 6-decimal integer scaling, plus the Rayleigh quotient λ = vᵀSv
    * for emb06 — every float step order-pinned to DuckDB's sequential
    * list_dot_product. None on an empty corpus. */
  /** The corpus side of every eigensolve, shared by emb05/emb06/emb07:
    * truncating integer means + the integer scatter triangle — exactly
    * two corpus aggregations, memoized per (session, dir) so the three
    * queries cost ONE pass between them. */
  private val scatterCache =
    new graft.SessionMemo[String, Option[(Seq[Int], Long, Seq[Seq[Long]])]](
      keep = _.isDefined)

  private def scatterSolve(s: SparkSession, d: String)
      : Option[(Seq[Int], Long, Seq[Seq[Long]])] =
    scatterCache.get(s, d) {
      val dim = PcaDim
      val q8 = quantized(s, d)
      val sc = sum(col("col").cast("long"))
      val meanRows = q8.select(posexplode(col("q")))
        .groupBy(col("pos"))
        .agg(((sc - (sc % count(lit(1)))) / count(lit(1))).cast("int").as("m"),
          count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> (r.getInt(1), r.getLong(2))).toMap
      if (meanRows.isEmpty) None
      else {
        val m = (0 until dim).map(i => meanRows(i)._1)
        val nVecs = meanRows(0)._2
        val scatL = q8.withColumn("c", int8Sub(col("q"), typedlit(m)))
          .agg(graft.functions.Scatter.scatterMatrix(col("c"), dim).as("s"))
          .head.getSeq[scala.collection.Seq[Long]](0)
        Some((m, nVecs, scatL.map(_.toSeq).toSeq))
      }
    }

  private def pcaSolve(s: SparkSession, d: String): Option[PcaSolve] =
    pcaCache.get(s, d) {
      val dim = PcaDim
      scatterSolve(s, d).map { case (m, nVecs, scatL) =>
        val trace = (0 until dim).map(i => scatL(i)(i)).sum
        val scat = scatL.map(_.map(_.toDouble).toArray).toArray
        // power iteration: ascending-index folds ONLY (the order the
        // oracle's list_dot_product replays); v0 = 1/√dim = 0.125 is
        // exactly representable at dim = 64
        var v = Array.fill(dim)(0.125)
        def matvec(x: Array[Double]): Array[Double] =
          Array.tabulate(dim) { i =>
            var acc = 0.0
            var j = 0
            while (j < dim) { acc += scat(i)(j) * x(j); j += 1 }
            acc
          }
        for (_ <- 1 to 12) {
          val w = matvec(v)
          var n2 = 0.0
          var i = 0
          while (i < dim) { n2 += w(i) * w(i); i += 1 }
          val nrm = math.sqrt(n2)
          if (nrm != 0.0) v = w.map(_ / nrm)
        }
        var vs = 0.0
        v.foreach(x => vs += x * 1.0)
        if (vs < 0.0) v = v.map(-_)
        // Rayleigh quotient on the sign-fixed unit vector: the λ₁
        // estimate emb06 reports (ascending folds, like everything)
        val w = matvec(v)
        var lam = 0.0
        var i = 0
        while (i < dim) { lam += v(i) * w(i); i += 1 }
        PcaSolve(m,
          v.map(x => graft.functions.Num.rhalf(x * 1000000.0)),
          nVecs, trace, lam)
      }
    }

  /** Top-k eigensolve by HOTELLING DEFLATION on the shared scatter
    * matrix — emb07's driver work, same Lloyd-class d² transfer as
    * pcaSolve: after each converged component, S ← S − λ·vvᵀ (λ the
    * Rayleigh quotient of the RAW converged vector; vvᵀ is
    * sign-invariant, so deflation needs no canonicalization) and the
    * 12-round power iteration restarts from the 0.125 vector. Every
    * float step — matvec, norm, divide, λ, the deflation cell update
    * S[i][j] − λ·v[i]·v[j] (left-associated) — is a sequential
    * ascending fold replayed order-identical by emb07's recursive-CTE
    * oracle, so the BIGINT projections are hash-exact and transitively
    * pin the whole k-component chain. Components are returned
    * sign-canonicalized (Σv ≥ 0) and 6-decimal integer scaled, with
    * their λ estimates descending by construction. */
  private[ops] final case class PcaSolveK(m: Seq[Int],
      comps: Seq[Array[Long]], lams: Seq[Double], nVecs: Long)

  private val pcaKCache =
    new graft.SessionMemo[(String, Int), Option[PcaSolveK]](keep = _.isDefined)

  private[ops] def pcaSolveK(s: SparkSession, d: String, k: Int)
      : Option[PcaSolveK] =
    pcaKCache.get(s, (d, k)) {
      val dim = PcaDim
      scatterSolve(s, d).map { case (m, nVecs, scatL) =>
        val scat = scatL.map(_.map(_.toDouble).toArray).toArray
        def matvec(x: Array[Double]): Array[Double] =
          Array.tabulate(dim) { i =>
            var acc = 0.0
            var j = 0
            while (j < dim) { acc += scat(i)(j) * x(j); j += 1 }
            acc
          }
        val comps = Seq.newBuilder[Array[Long]]
        val lams = Seq.newBuilder[Double]
        for (_ <- 1 to k) {
          var v = Array.fill(dim)(0.125)
          for (_ <- 1 to 12) {
            val w = matvec(v)
            var n2 = 0.0
            var i = 0
            while (i < dim) { n2 += w(i) * w(i); i += 1 }
            val nrm = math.sqrt(n2)
            if (nrm != 0.0) v = w.map(_ / nrm)
          }
          val w = matvec(v)
          var lam = 0.0
          var i = 0
          while (i < dim) { lam += v(i) * w(i); i += 1 }
          lams += lam
          // sign-fix a COPY for output; deflate with the raw v
          var vs = 0.0
          v.foreach(x => vs += x * 1.0)
          val vOut = if (vs < 0.0) v.map(-_) else v
          comps += vOut.map(x => graft.functions.Num.rhalf(x * 1000000.0))
          i = 0
          while (i < dim) {
            var j = 0
            while (j < dim) {
              scat(i)(j) = scat(i)(j) - lam * v(i) * v(j)
              j += 1
            }
            i += 1
          }
        }
        PcaSolveK(m, comps.result(), lams.result(), nVecs)
      }
    }

  /** emb08's Johnson–Lindenstrauss sign matrix, derived entirely from
    * md5 so BOTH engines can mint it independently: sign(i, j) = +1
    * when the first hex nibble of md5("jl_<i>_<j>") is 0–7, −1
    * otherwise (an Achlioptas-style ±1 projection — distances are
    * preserved within (1±ε) at m = O(log n / ε²) without any stored
    * model). Returned [j][i] so each output dimension is one literal
    * array in the plan: the projection is a MAP-ONLY integer fold with
    * zero shuffle and no broadcast — the d×m signs live in the plan
    * itself, the shape that survives a 1000-executor scan. */
  private[ops] def jlSigns(dim: Int, m: Int): Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(m) { j =>
      Array.tabulate(dim) { i =>
        val h = md.digest(s"jl_${i}_${j}".getBytes("UTF-8"))
        if (((h(0) >> 4) & 0xf) <= 7) 1 else -1
      }
    }
  }

  private val q8Cache = graft.SessionMemo.frames[String]

  // The k-center traversal's result (≤K rows) — emb10 AND qa09 both
  // need it, and the traversal is K driver-round scans; without this
  // memo qa09's cost silently re-included its upstream selection on
  // every invocation. Empty results are not memoized.
  private val kcenterCache =
    new graft.SessionMemo[(String, Int), Vector[(Int, Long, Long)]](
      keep = _.nonEmpty)

  /** Memoized k-center traversal over the quantized corpus at `d` —
    * the shared upstream of emb10 (which emits it) and qa09 (which
    * audits coverage of its centers). */
  private def kcenterRows(s: SparkSession, d: String, k: Int): Vector[(Int, Long, Long)] =
    kcenterCache.get(s, (d, k)) {
      kcenterGreedy(s, quantized(s, d), k).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toVector
    }

  // The PQ-ENCODED corpus (vec_id, codes) — the compressed index a PQ
  // deployment materializes ONCE (Jégou et al.: the codes ARE the
  // stored database). Previously recomputed per invocation: the
  // 32-argmin encode scan re-ran on every ss09/ss10 call, ~2.3s of
  // each query's 2.7s at sf0.1. IndexStore-managed (cross-session,
  // fingerprinted against embeddings) with this session memo as the
  // read-through cache; unmanaged it is one DISK_ONLY persist per
  // (session, dir). Codes derive deterministically from the quantized
  // corpus + codebooks, so the oracle replay is unchanged.
  private val encCache =
    new graft.SessionMemo[String, DataFrame](release = graft.SessionMemo.unpersist)

  /** ss05's symmetric int8 grid appended to an arbitrary
    * (…, embedding) frame as `scale` and `q` — the stateless kernel
    * shared by ss05/ss06, the session memo below and IvfIndex's
    * build/append/probe quantization (per-row scale, so any subset
    * quantizes identically to the whole).
    *
    * `q` is the native [[graft.functions.Int8Quantize]], which finds
    * max|x| itself instead of reading the `scale` column. A lambda form,
    * `transform(x, v -> round(v / scale))`, falls into a trap: once a
    * caller drops `scale`, Catalyst inlines its definition (an
    * `array_max` over a 64-element `transform`) into the per-element
    * lambda, so each row recomputes the maximum for every element —
    * O(dim²) interpreted work per row. A column that feeds a lambda must
    * not be one a later projection can inline. */
  private[ops] def quantize(df: DataFrame): DataFrame =
    df.withColumn("scale", int8Scale(col("embedding")))
      .withColumn("q", int8Quantize(col("embedding")))

  /** emb10's farthest-point traversal (Gonzalez greedy) over any
    * (vec_id, q) integer-vector frame — shared by the query and
    * the `select` scale gate. K bounded driver rounds; each round is one
    * map-only scan against ≤K in-plan literal centers topped by
    * orderBy+limit(1) (TakeOrderedAndProject — top-1 per partition, one
    * row per partition to the driver, no shuffle). Returns (round,
    * vec_id, radius) — radius = the max-min distance² the previous
    * center set left uncovered, non-increasing by construction. */
  def kcenterGreedy(s: SparkSession, q8: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    val seed = q8
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(1).collect()
    if (seed.isEmpty)
      Seq.empty[(Int, Long, Long)].toDF("round", "vec_id", "radius")
    else {
      var picked = Vector((1, seed(0).getLong(seed(0).fieldIndex("vec_id")), 0L))
      var centers = Vector(seed(0).getSeq[Int](seed(0).fieldIndex("q")))
      var r = 2
      var exhausted = false
      while (r <= k && !exhausted) {
        val mind = array_min(array(centers.map(sqDistTo): _*))
        val next = q8
          .filter(!col("vec_id").isin(picked.map(_._2): _*))
          .withColumn("mind", mind)
          .orderBy(col("mind").desc, col("vec_id"))
          .limit(1).collect()
        if (next.isEmpty) exhausted = true
        else {
          picked :+= ((r, next(0).getLong(next(0).fieldIndex("vec_id")),
            next(0).getLong(next(0).fieldIndex("mind"))))
          centers :+= next(0).getSeq[Int](next(0).fieldIndex("q"))
          r += 1
        }
      }
      picked.toDF("round", "vec_id", "radius")
    }
  }

  private def quantized(s: SparkSession, d: String): DataFrame =
    q8Cache.get(s, d) {
      // the drop keeps this plan distinct from ss06's identical
      // quantize-and-select, so the cache manager does not swap ss06's
      // scan for this DISK_ONLY frame whenever another query built it
      quantize(emb(s, d)).drop("scale").select(col("vec_id"), col("q"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    }

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "embeddings").select(col("vec_id"), col("embedding"))

  /** Exact integer squared L2 — the driver-side twin of the in-plan
    * int8SqDist kernel (bounded uses only: probe lists, PQ lookup tables,
    * spec audits). */
  private def intL2(a: Seq[Int], b: Seq[Int]): Long =
    a.zip(b).map { case (x, y) => (x - y).toLong * (x - y) }.sum

  /** Integer L2 distance² from a q8 row's `q` column to an in-plan
    * literal center — the one kernel behind emb03/emb10/qa09 and the
    * IVF assignment. */
  private def sqDistTo(c: Seq[Int]): Column = int8SqDist(col("q"), typedlit(c))

  /** argmin over in-plan literal centroids as a zero-shuffle map
    * expression: struct(dist, cid) array_min ties to the lower cid. */
  private[ops] def int8Assign(
      cs: Seq[(Int, Seq[Int])]): org.apache.spark.sql.Column =
    array_min(array(cs.map { case (cid, c) =>
      struct(sqDistTo(c).as("dist"), lit(cid).as("cid")) }: _*))

  /** The `keep` nearest centroids by exact integer L2 (ties to the
    * lower cid — int8Assign's rule extended past the minimum), as an
    * ordered array of struct(dist, cid). Map-only like int8Assign:
    * centroids are in-plan literals, per-row work is k fused integer
    * folds plus a k-element sort. */
  private[ops] def nearestCellsInt8(cs: Seq[(Int, Seq[Int])],
      keep: Int): org.apache.spark.sql.Column =
    slice(array_sort(array(cs.map { case (cid, c) =>
      struct(sqDistTo(c).as("dist"), lit(cid).as("cid")) }: _*)), 1, keep)

  // The K=16 integer IVF coarse quantizer SHARED by ss03b (one-stage
  // probe) and ss03c (ADC shortlist + exact re-rank): emb03's Lloyd
  // chain — hash-ordered seeds, one truncating-integer-mean round.
  // Memoized per (session, dir): the centroid list is k×dim integers
  // (the bounded Lloyd transfer). An EMPTY corpus yields Nil, which is
  // not memoized.
  private val IvfK = 16
  private val ivfCentCache =
    new graft.SessionMemo[String, Seq[(Int, Seq[Int])]](keep = _.nonEmpty)

  /** emb03's integer Lloyd chain over an arbitrary quantized
    * (vec_id, q) frame: hash-ordered seeds, one truncating-integer-mean
    * round — the stateless trainer shared by the memoized table-level
    * quantizer below and IvfIndex.build's per-corpus training. Returns
    * Nil on an empty frame. */
  private[ops] def int8LloydTrain(q8: DataFrame,
      k: Int): Seq[(Int, Seq[Int])] = {
    val seeds = q8
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(k).collect()
      .map(r => r.getSeq[Int](r.fieldIndex("q")))
      .zipWithIndex.map { case (c, i) => (i, c) }.toSeq
    if (seeds.isEmpty) Nil
    else Lloyd.iterate[Int](q8, "q", seeds, rounds = 1,
      assignId = (_, cs) => int8Assign(cs).getField("cid"),
      meanExpr = ((sum(col("v").cast("long")) -
        (sum(col("v").cast("long")) % count(lit(1)))) / count(lit(1)))
        .cast("int"),
      decode = _.getInt(2))
  }

  private[ops] def ivfInt8Centroids(s: SparkSession,
      d: String): Seq[(Int, Seq[Int])] =
    ivfCentCache.get(s, d)(int8LloydTrain(quantized(s, d), IvfK))

  /** ss11's frozen quantizer: trained on the STANDING corpus only
    * (vec_id % 10 != 0) — the appended batch must be assigned by
    * centroids that never saw it, which is what makes the append path
    * honest (an IVF's centroids are fixed at build time; retraining
    * would invalidate every posting list). Memoized under a distinct
    * key so it never collides with the full-corpus quantizer. */
  private[ops] def ivfAppendCentroids(s: SparkSession,
      d: String): Seq[(Int, Seq[Int])] =
    ivfCentCache.get(s, d + "#append") {
      int8LloydTrain(quantized(s, d).filter(col("vec_id") % 10 =!= 0), IvfK)
    }

  // memoized NON-emptiness of the embeddings table (ss03's guard): a
  // "non-empty" verdict is stable, an "empty" one is not — see ss03
  private val embNonEmpty = new graft.SessionMemo[String, Boolean](keep = identity)

  private def embEmpty(s: SparkSession, d: String, e: DataFrame): Boolean =
    !embNonEmpty.get(s, d)(!e.isEmpty)

  /** The qa10/qa11 recall audit (Spark twin of the shared
    * annRecallTail SQL): recall@10 of `annName`'s top-k vs the exact
    * brute force — id semi-join overlap per probe query, exact integer
    * counts divided in double. Exists once so a fix to the recall
    * arithmetic can never diverge between the two audits. */
  private def annRecall(s: SparkSession, d: String,
      annName: String): DataFrame = {
    val exact = queries("ss01_topk_bruteforce")(s, d)
      .select(col("q_id"), col("vec_id"))
    val ann = queries(annName)(s, d)
      .select(col("q_id"), col("vec_id"))
    val hits = exact.join(ann, Seq("q_id", "vec_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    exact.groupBy(col("q_id")).agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), col("n_true"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_true").cast("double")).as("recall"))
  }

  /** ss11's guard: is the STANDING corpus (vec_id % 10 != 0) empty?
    * Same discipline as [[embEmpty]] — only the non-empty verdict is
    * memoized (keyed under a distinct suffix in the same map), so warm
    * ss11/qa11 invocations don't pay a probe job per construction. */
  private def standingEmpty(s: SparkSession, d: String, e: DataFrame): Boolean =
    !embNonEmpty.get(s, d + "#standing") {
      !e.filter(col("vec_id") % 10 =!= 0).limit(1).isEmpty
    }

  /** Deterministic pseudo-random hyperplanes (fixed seed, 16 × 64). */
  private lazy val planes: Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(16)(Seq.fill(64)(rnd.nextGaussian()))
  }

  /** 16-bit hyperplane sign signature of a vector column (shared by ss02
    * and dd10 — the planes are plan-time literals, so this is map-only). */
  private[ops] def hyperplaneSig(vec: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val sigBits = planes.zipWithIndex.map { case (p, i) =>
      when(vecDot(vec, typedlit(p)) > 0d, lit(1L << i)).otherwise(lit(0L))
    }
    sigBits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** The same 16-bit signature as a DuckDB SQL expression over a
    * DOUBLE[] column named `v` (hyperplanes as double literals — see
    * ss02Sql for why this is bit-exact cross-engine). */
  private[ops] lazy val hyperplaneSigSql: String = {
    def planeLit(p: Seq[Double]): String = p.mkString("[", ", ", "]")
    planes.zipWithIndex.map { case (p, i) =>
      s"CASE WHEN list_dot_product(v, ${planeLit(p)}) > 0 THEN ${1L << i} ELSE 0 END"
    }.mkString("(", "\n    + ", ")")
  }

  /** Per-group top-k: `df`'s rows ranked 1..k in `rankCol` by `order`
    * within each `by` group. Spark plans `row_number() <= k` as a
    * partial WindowGroupLimit below the exchange and a final one above
    * it, so each map task keeps only its local top-k per group before
    * the shuffle: the local prune + global merge of distributed top-k.
    * Ties break on whatever `order` lists last. */
  def topK(df: DataFrame, by: Column, k: Int, rankCol: String,
      order: Column*): DataFrame =
    df.withColumn(rankCol, row_number().over(Window.partitionBy(by).orderBy(order: _*)))
      .filter(col(rankCol) <= k)

  /** Every (corpus vector, query) pair but a vector against itself: the
    * bounded `queries` side, projected to `q_id`, `extra` and `q_vec`,
    * broadcast against the streamed `corpus`. Both sides carry
    * `vec_id` and `embedding`. */
  def queryPairs(corpus: DataFrame, queries: DataFrame, extra: Column*): DataFrame =
    corpus.crossJoin(broadcast(queries.select(
        (col("vec_id").as("q_id") +: extra :+ col("embedding").as("q_vec")): _*)))
      .filter(col("vec_id") =!= col("q_id"))

  // Exact brute-force cosine top-10 for query vectors vec_id < 10 (ss01, ss04).
  private val cosineTop10: (SparkSession, String) => DataFrame = { (s, d) =>
    val all = emb(s, d)
    topK(queryPairs(all, all.filter(col("vec_id") < 10))
        .withColumn("cos", cosine(col("embedding"), col("q_vec"))),
        col("q_id"), 10, "rank", col("cos").desc, col("vec_id"))
      .select(col("q_id"), col("vec_id"), col("cos"), col("rank"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ss01_topk_bruteforce" -> cosineTop10,

    // Random-hyperplane LSH top-k: 16 sign bits banded 4×4; candidates
    // share a band bucket. 4-bit bands keep recall usable even when true
    // neighbors have modest cosine (random embeddings) — the classic
    // bands/rows recall-vs-candidates dial.
    "ss02_lsh_topk" -> { (s, d) =>
      val withSig = emb(s, d).withColumn("sig", hyperplaneSig(col("embedding")))
      val banded = withSig.select(col("vec_id"), col("embedding"),
          posexplode(array((0 until 4).map(j =>
            shiftright(col("sig"), j * 4).bitwiseAND(lit(0xfL))): _*)))
        .toDF("vec_id", "embedding", "band_id", "band_val")
      val q = broadcast(banded.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("band_id"), col("band_val")))
      val cands = banded.join(q, Seq("band_id", "band_val"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("q_vec"), col("vec_id"), col("embedding"))
        .distinct()
      topK(cands.withColumn("cos", cosine(col("embedding"), col("q_vec"))),
          col("q_id"), 10, "rank", col("cos").desc, col("vec_id"))
        .select(col("q_id"), col("vec_id"), col("cos"), col("rank"))
    },

    // Threshold range search ("every neighbor within radius"): all
    // (query, vector) pairs with cosine ≥ 0.2. Unlike top-k there is no
    // per-query ranking state, so with the bounded query side broadcast
    // the whole operator is MAP-ONLY — one corpus scan, zero shuffles,
    // output ∝ matches — the shape that saturates IO bandwidth at
    // 100 TB. The ≥ decision is safe cross-engine because the cosine
    // itself is bit-identical (sequential double fold on both sides,
    // validated via ss01).
    "ss07_range_search" -> { (s, d) =>
      val all = emb(s, d)
      queryPairs(all, all.filter(col("vec_id") < 10))
        .withColumn("cos", cosine(col("embedding"), col("q_vec")))
        .filter(col("cos") >= 0.2)
        .select(col("q_id"), col("vec_id"), col("cos"))
    },

    // Maximum-inner-product search (MIPS) — the retrieval scoring for
    // embeddings trained with dot-product objectives (two-tower
    // recommenders, DSSM), where cosine's normalization is WRONG
    // because the vector norm carries signal. Same scalable shape as
    // ss01 (broadcast bounded queries, fused VecDot corpus scan,
    // per-query top-k pruned map-side before the exchange), different
    // score: the raw dot product. Exact cross-engine: VecDot's
    // sequential double fold equals DuckDB's list_dot_product
    // term-for-term (validated via ss01/ss07).
    "ss08_mips_topk" -> { (s, d) =>
      val all = emb(s, d)
      topK(queryPairs(all, all.filter(col("vec_id") < 10))
          .withColumn("dot", vecDot(col("embedding"), col("q_vec"))),
          col("q_id"), 10, "rank", col("dot").desc, col("vec_id"))
        .select(col("q_id"), col("vec_id"), col("dot"), col("rank"))
    },

    // ss01 under a second registered name: same plan, same oracle.
    "ss04_topk_aggregated" -> cosineTop10,

    // Symmetric int8 quantization per embedding (the PQ-lite compression
    // step an ANN index runs before storing vectors): scale = max|x|/127,
    // q_i = round(x_i/scale). Map-only (no shuffle); the quantized
    // vector is serialized to a canonical CSV string so the result is
    // exactly comparable across engines.
    "ss05_quantize_int8" -> { (s, d) =>
      quantize(emb(s, d))
        .select(col("vec_id"), col("scale"),
          array_join(transform(col("q"), _.cast("string")), ",").as("q_str"))
    },

    // IVF top-k through the PERSISTED index (IvfIndex): build-once
    // materializes the cell-partitioned assignment table; the probe
    // assigns the 10 query vectors to their 3 nearest cells and scans
    // only those partitions (static partition pruning — IvfIndexSpec
    // pins selectedPartitions/numFiles ∝ nprobe/ncells). HASH-EXACT as
    // of round 13: the coarse quantizer is the shared INTEGER one
    // (ss05 grid + emb03 Lloyd + integer-L2 argmin — ss03b's replayed
    // chain at nprobe=3) while the reported score is the exact double
    // cosine over the original float vectors (ss01's replayed kernel),
    // so the DuckDB oracle replays index build, probe-set selection,
    // AND scoring bit-for-bit. The persisted-index architecture is
    // unchanged — only the trainer moved from float k-means (stable
    // run-to-run, but not practically replayable cross-engine) to the
    // integer family the rest of the ss03 tier already gates on.
    "ss03_ivf_topk" -> { (s, d) =>
      val e = emb(s, d)
      // empty corpus: nothing to train an IVF on (and a 0-row
      // partitioned write leaves an unreadable index dir) — searching
      // nothing returns nothing. Emptiness is memoized per (session,
      // dir) so warm invocations don't pay a probe job; like the
      // z-layout memo, only the NON-empty verdict is cached (an empty
      // verdict must re-check once data lands).
      if (embEmpty(s, d, e))
        e.select(col("vec_id").as("q_id"), col("vec_id"),
          lit(0.0).as("cos"), lit(0).as("rank")).limit(0)
      else {
        val index = IvfIndex.builtFor(s, d)
        IvfIndex.probe(s, index, e.filter(col("vec_id") < 10),
          nprobe = 3, topk = 10)
      }
    },

    // Incremental IVF ingest (ss03's append path, oracle-gated): the
    // STANDING corpus (vec_id % 10 != 0) trains the quantizer and
    // builds the cell-partitioned index; the remaining 10% is then
    // absorbed by IvfIndex.append — assignment under the FROZEN
    // centroids, dynamic partition append, zero rewrite of standing
    // posting lists (the dd07/dd11 standing-corpus discipline applied
    // to ANN). The probe is ss03's, over the MERGED index, so the
    // query proves appended vectors are searchable; qa11 audits the
    // recall cost of freezing the quantizer. Replayable end-to-end:
    // the assignment arithmetic is the same integer L2 as ss03's —
    // only the trainer's input set changes.
    "ss11_ivf_append" -> { (s, d) =>
      val e = emb(s, d)
      // empty corpus OR empty standing corpus (a 1-row table whose only
      // vec_id is a multiple of 10): nothing to train on — searching
      // nothing returns nothing, matching the oracle's empty seed set
      if (embEmpty(s, d, e) || standingEmpty(s, d, e))
        e.select(col("vec_id").as("q_id"), col("vec_id"),
          lit(0.0).as("cos"), lit(0).as("rank")).limit(0)
      else {
        val index = IvfIndex.builtForAppend(s, d)
        IvfIndex.probe(s, index, e.filter(col("vec_id") < 10),
          nprobe = 3, topk = 10)
      }
    },

    // ss03's HASH-EXACT sibling: the same IVF search shape — coarse
    // cells, probe the nearest few, scan only those — but every
    // quantity integer (ss05's int8 grid, emb03's hash-ordered seeds +
    // one-round truncating-mean Lloyd as the coarse quantizer, integer
    // squared-L2 everywhere, ties to the lower cid/vec_id), so the
    // DuckDB oracle replays the ENTIRE index build AND the probe
    // bit-for-bit — the trick that turned PQ from "approx by design"
    // (float ss03) into an oracle-gated query (ss09), applied to IVF.
    // Scale shape: cell assignment is a map-only argmin against K=16
    // in-plan literal centroids; the probe list (queries × nprobe=4
    // rows, with the query vectors) broadcasts; the candidate scan
    // touches ~nprobe/K of the corpus per query; top-k is the ss06
    // window. Measured mean recall@10 vs the exact int8 L2 ranking:
    // 0.75 at sf0.001 (spec gates >= 0.3); the reported distance is
    // always the EXACT integer L2 — only the candidate set is
    // approximate. The float ss03 remains the production path
    // (persisted cell-partitioned index, static pruning); this is its
    // cross-engine-auditable twin.
    "ss03b_ivf_int8_topk" -> { (s, d) =>
      val NProbe = 4
      val q8 = quantized(s, d)
      val cents = ivfInt8Centroids(s, d)

      // empty corpus => no centroids => malformed zero-arm array_min;
      // searching nothing returns nothing
      if (cents.isEmpty)
        q8.select(col("vec_id").as("q_id"), col("vec_id"),
          lit(0L).as("dist"), lit(0).as("rank")).limit(0)
      else {
        val cells = q8.withColumn("cell", int8Assign(cents).getField("cid"))

        val qs = q8.filter(col("vec_id") < 10).collect()
          .map(r => (r.getLong(0), r.getSeq[Int](1)))
        val probeRows = qs.toSeq.flatMap { case (qid, qv) =>
          cents.map { case (cid, c) => (cid, intL2(qv, c)) }
            .sortBy { case (cid, dl) => (dl, cid) }.take(NProbe)
            .map { case (cid, _) => (qid, cid, qv) }
        }
        import s.implicits._
        val probe = broadcast(probeRows.toDF("q_id", "cell", "qq"))

        topK(cells.join(probe, "cell")
            .filter(col("vec_id") =!= col("q_id"))
            .withColumn("dist", int8SqDist(col("q"), col("qq"))),
            col("q_id"), 10, "rank", col("dist"), col("vec_id"))
          .select(col("q_id"), col("vec_id"), col("dist"),
            col("rank").cast("int").as("rank"))
      }
    },

    // ss03c: IVFADC with exact RE-RANK — the production retrieval
    // architecture (Jégou et al. 2011 §V "IVFADC" + §VII re-rank)
    // assembled from this file's three index tiers: the IVF coarse
    // quantizer restricts the scan to nprobe=10 of 16 cells (ss03b's
    // integer Lloyd cells), the compressed-domain ADC distance (ss09's
    // PQ codes + per-query LUT — M array lookups per row, never a
    // 64-term kernel) ranks the probed cells into a top-C=100
    // shortlist, and only the shortlist pays the exact int8 L2 kernel
    // (ss10's stage 2). Recall ≥ 0.95 vs the exact ranking
    // (spec-gated at measured-minus-margin; ss03b's one-stage probe
    // measures 0.75): the re-rank fixes every ADC ranking error, so
    // the only misses are true neighbors whose CELL was not probed.
    // Everything stays integer, so the oracle replays the entire
    // two-index pipeline — cells AND codes — bit-for-bit. Scale
    // shape: both index scans are map-only over in-plan literals /
    // broadcast LUTs; the shortlist (queries×C rows) joins hint-free
    // (AQE broadcasts it); at 100 TB the same plan runs with
    // K=65536 cells and nprobe≈64 — the nprobe/K = 5/8 here is an
    // artifact of the tiny 16-cell test grid, not the design point.
    "ss03c_ivfadc_rerank" -> { (s, d) =>
      val NProbe = 10
      val C = 100
      val q8 = quantized(s, d)
      val cents = ivfInt8Centroids(s, d)
      if (cents.isEmpty)
        q8.select(col("vec_id").as("q_id"), col("vec_id"),
          lit(0L).as("l2"), lit(0).as("rank")).limit(0)
      else {
        val cells = q8.select(col("vec_id"),
          int8Assign(cents).getField("cid").as("cell"))
        val (enc, qlut) = pqAdc(s, d)
        val qs = q8.filter(col("vec_id") < 10).collect()
          .map(r => (r.getLong(0), r.getSeq[Int](1)))
        val probeRows = qs.toSeq.flatMap { case (qid, qv) =>
          cents.map { case (cid, c) => (cid, intL2(qv, c)) }
            .sortBy { case (cid, dl) => (dl, cid) }.take(NProbe)
            .map { case (cid, _) => (qid, cid) }
        }
        import s.implicits._
        val probe = broadcast(
          probeRows.toDF("q_id", "cell").join(qlut, "q_id"))

        val shortlist = topK(cells.join(enc, "vec_id").join(probe, "cell")
            .filter(col("vec_id") =!= col("q_id"))
            .withColumn("adc", adcDist),
            col("q_id"), C, "rn", col("adc"), col("vec_id"))
          .select(col("q_id"), col("vec_id"))

        val qvecs = broadcast(q8.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("q").as("q_q")))
        topK(shortlist.join(q8, Seq("vec_id"))
            .join(qvecs, Seq("q_id"))
            .withColumn("l2", int8SqDist(col("q"), col("q_q"))),
            col("q_id"), 10, "rank", col("l2"), col("vec_id"))
          .select(col("q_id"), col("vec_id"), col("l2"),
            col("rank").cast("int").as("rank"))
      }
    },

    // Quantized brute-force top-k: ss05's int8 vectors searched with an
    // INTEGER dot product. Unlike float cosine, every score is an exact
    // integer (|score| ≤ 64·127² ≪ 2⁵³), so the ranking is bit-exact
    // across engines and fully oracle-checked — the verification story
    // for a quantized ANN tier that float math can't give you. Shape:
    // same broadcast-queries scan as ss01; quantization is map-only.
    "ss06_int8_topk" -> { (s, d) =>
      val q8 = quantize(emb(s, d)).select(col("vec_id"), col("q"))
      val qs = broadcast(q8.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("q").as("q_q")))
      // spread (round 17): the quantize + 10×64-term integer dot kernel
      // fuses into the single-row-group embeddings scan — one 1.5-1.7 s
      // serial task carried the whole query (QProf). CPU-bound like
      // qa05; same-window A/B med 1.114→0.837-0.859, min 0.815→0.69-0.76.
      // No-op at scale (Tables.spread).
      topK(graft.Tables.spread(q8).crossJoin(qs)
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("score", int8Dot(col("q"), col("q_q"))),
          col("q_id"), 10, "rank", col("score").desc, col("vec_id"))
        .select(col("q_id"), col("vec_id"), col("score"),
          col("rank").cast("int").as("rank"))
    },

    // Per-label centroid (the class-prototype / cluster-summary pass a
    // labeled embedding corpus runs for retrieval or distillation):
    // posexplode to (label, dim, value), one agg shuffle whose partial
    // (map-side) aggregation collapses the ×64 explosion to
    // labels×dims rows before any exchange. Centroid components round
    // to 4 decimals so cross-engine float-summation-order noise
    // (~1e-13) cannot flip a digit (closest sf0.01 value is 3.5e-8
    // from a rounding boundary).
    // kNN classification over embeddings: every 100th vector is treated
    // as an unlabeled query, classified by majority vote of its 5
    // cosine-nearest labeled neighbors (ties → smallest label). The
    // query side broadcasts (bounded), the corpus streams once; the
    // per-query top-k keeps each map task's local top-5 before the
    // exchange. Votes and the argmax are integer-deterministic, so the
    // whole classifier is oracle-exact.
    "emb02_knn_classify" -> { (s, d) =>
      val all = Tables.load(s, d, "embeddings")
      val neighbors = topK(queryPairs(all.filter(col("vec_id") % 100 =!= 0),
          all.filter(col("vec_id") % 100 === 0), col("label").as("true_label"))
          .withColumn("cos", cosine(col("embedding"), col("q_vec"))),
        col("q_id"), 5, "rn", col("cos").desc, col("vec_id"))
      topK(neighbors.groupBy(col("q_id"), col("true_label"), col("label"))
          .agg(count(lit(1)).as("n_votes")),
          col("q_id"), 1, "vr", col("n_votes").desc, col("label"))
        .select(col("q_id"), col("true_label"),
          col("label").as("pred_label"), col("n_votes"))
    },

    "emb01_label_centroid" -> { (s, d) =>
      Tables.load(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos"))
        .agg(round(avg(col("col").cast("double")), 4).as("centroid"),
          count(lit(1)).as("n_vecs"))
        .select(col("label"), col("pos").cast("int").as("dim"),
          col("centroid"), col("n_vecs"))
    },

    // Centroid-distance outliers — the embedding-space QUALITY filter
    // (the SemDeDup-family pruning primitive: vectors far from their
    // class prototype are mislabeled/noisy/low-quality candidates, and
    // a curation pass reviews or drops the per-label tail). Centroids
    // are emb01's (per-dim mean rounded to 4 decimals so cross-engine
    // float-summation-order noise cannot flip a digit); the score is
    // the ss01-validated sequential-fold cosine of the raw vector
    // against its label centroid, and the 5 LOWEST-cosine vectors per
    // label are emitted with ranks. Every float op downstream of the
    // rounded centroid is IEEE correctly-rounded (dot fold, sqrt,
    // divide), so the ranking is bit-exact and fully oracle-checked.
    // Scale shape: one labels×dims centroid agg (partial-agged explode,
    // emb01's), a broadcast of the labels-sized centroid table, one
    // map-only scoring scan, and the bounded per-label top-k window.
    "emb04_centroid_outliers" -> { (s, d) =>
      val e = Tables.load(s, d, "embeddings")
      val cents = e.select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos"))
        .agg(round(avg(col("col").cast("double")), 4).as("c"))
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x.getField("c")).as("cvec"))
      topK(e.join(broadcast(cents), "label")
          .withColumn("cos",
            graft.functions.VectorOps.cosine(col("embedding"), col("cvec"))),
          col("label"), 5, "rank", col("cos"), col("vec_id"))
        .select(col("label"), col("vec_id"), col("cos"),
          col("rank").cast("int").as("rank"))
    },

    // Integer-exact distributed k-means (quantized Lloyd): int8-quantize
    // every vector on ss05's grid, seed k=8 centroids from the
    // hash-ordered first 8 vectors (deterministic and engine-portable,
    // the dd06 sample rule), run one full Lloyd round — E-step (argmin
    // integer squared L2, ties to the lower centroid id), M-step
    // (per-dim truncating integer mean — `(s - s % n) / n` divides
    // exactly, so every division operator agrees cross-engine), final
    // re-assign — and emit the assignment with its integer distance.
    // Every quantity is an integer, so MORE rounds would stay bit-exact
    // too: gr01's scaled-integer trick applied to clustering, where
    // float Lloyd could never be oracle'd. Scale shape: both E-steps
    // are map-only corpus scans against k in-plan literal centroids;
    // the M-step is one explode + partial-agg shuffle whose output is
    // k×dim cells; the two k×dim collects are the bounded
    // KMeans-training idiom (IvfIndex precedent). Ten Lloyd rounds =
    // ten cheap k×dim round trips, never a corpus-sized one.
    "emb03_kmeans_int" -> { (s, d) =>
      val q8 = quantized(s, d)
      // one Lloyd round over hash-ordered seeds (int8LloydTrain), then
      // the final re-assign; empty clusters are DROPPED (the oracle
      // replays exactly that)
      val cents = int8LloydTrain(q8, 8)
      // empty corpus => no centroids => int8Assign would be a malformed
      // zero-arm array_min; k-means of nothing is the empty assignment
      if (cents.isEmpty)
        q8.select(col("vec_id"), lit(0).as("c_id"),
          lit(0L).as("dist")).limit(0)
      else
        q8.withColumn("a", int8Assign(cents))
          .select(col("vec_id"), col("a.cid").as("c_id"),
            col("a.dist").as("dist"))
    },

    // emb05: PCA projection — the dimensionality-reduction primitive
    // the embedding family was missing (corpus visualization, variance
    // triage, cheap pre-filters before exact ANN). Fully replayable
    // cross-engine, which float PCA never is, by the emb03 recipe
    // "keep everything that touches the corpus in integers and make
    // every float step IEEE-identical":
    //   1. int8-quantize (ss05's shared grid);
    //   2. center by the truncating integer mean per dim (exact);
    //   3. scatter matrix Σ c·cᵀ via ScatterAggregate — ONE constant-
    //      size buffer per map partition crosses the exchange (the
    //      CMS argument: no |corpus|·d² exploded aggregation);
    //   4. 12 rounds of driver-side power iteration on the collected
    //      d×d matrix (the Lloyd class of transfer: d² cells, never
    //      corpus-sized) — every step a sequential ascending fold /
    //      sqrt / divide, each IEEE correctly-rounded and replayed
    //      ORDER-IDENTICAL by DuckDB's sequential list_dot_product
    //      (verified in SimilaritySpec against an independent fold);
    //      a zero matrix (degenerate corpus) keeps v unchanged rather
    //      than dividing 0/0;
    //   5. sign-canonicalize (Σv ≥ 0), scale to 6-decimal integers
    //      with half-away-from-zero rounding (both engines' round);
    //   6. project: pc1 = ⟨c, v_scaled⟩ — pure BIGINT arithmetic, so
    //      the per-vector output is hash-exact, and the hash gate
    //      transitively pins the whole eigensolve.
    "emb05_pca_project" -> { (s, d) =>
      val q8 = quantized(s, d)
      pcaSolve(s, d) match {
        case None =>
          q8.select(col("vec_id"), lit(0L).as("pc1")).limit(0)
        case Some(p) =>
          q8.withColumn("c", int8Sub(col("q"), typedlit(p.m)))
            .select(col("vec_id"),
              int8Dot(col("c"), typedlit(p.scaled.toSeq)).as("pc1"))
      }
    },

    // emb06: how much structure did pc1 capture — the variance-explained
    // summary a curation pass reads before trusting emb05's axis (a low
    // ratio says the corpus is isotropic and 1-D projection discards
    // nearly everything). One row: vector count, the exact integer
    // trace of the scatter (total centered variance·n, a pure BIGINT),
    // the Rayleigh eigenvalue estimate λ₁ = vᵀSv of the converged
    // vector, and λ₁/trace — the two floats re-entering as
    // scale-rounded integers (×10⁴ / ×10⁶, Num.rhalf) so the output
    // row is all-BIGINT and the oracle replays it with scale-0 rounds
    // only (the validated cross-engine semantics). Costs nothing
    // beyond emb05's memoized solve.
    "emb06_pca_variance" -> { (s, d) =>
      import s.implicits._
      pcaSolve(s, d) match {
        case None =>
          Seq.empty[(Long, Long, Long, Long)]
            .toDF("n_vecs", "trace", "lambda1_e4", "var_ratio_e6")
        case Some(p) =>
          val lamE4 = graft.functions.Num.rhalf(p.lamRaw * 10000.0)
          val ratioE6 =
            if (p.trace == 0L) 0L
            else graft.functions.Num.rhalf(
              p.lamRaw / p.trace.toDouble * 1000000.0)
          Seq((p.nVecs, p.trace, lamE4, ratioE6))
            .toDF("n_vecs", "trace", "lambda1_e4", "var_ratio_e6")
      }
    },

    // emb07: TOP-K PCA — emb05 extended from pc1 to an 8-component
    // basis (SemDeDup-style semantic dedup, whitening, and cheap
    // visualization all want a top-k subspace, not one axis). The
    // scatter matrix already holds everything; the added work is
    // driver-side Hotelling deflation (pcaSolveK: S ← S − λvvᵀ after
    // each converged component, power iteration restarting from the
    // 0.125 vector) — still the Lloyd class of transfer, d² cells per
    // component, never corpus-sized. Deflation is sign-invariant
    // (vvᵀ), λ is the raw-vector Rayleigh quotient, and every float
    // step is the same ascending fold the recursive-CTE oracle
    // replays, so the eight BIGINT projections per vector are
    // hash-exact and transitively pin the whole deflation chain.
    "emb07_pca_topk" -> { (s, d) =>
      val q8 = quantized(s, d)
      pcaSolveK(s, d, 8) match {
        case None =>
          q8.select(col("vec_id") +:
            (1 to 8).map(j => lit(0L).as(s"pc$j")): _*).limit(0)
        case Some(p) =>
          q8.withColumn("c", int8Sub(col("q"), typedlit(p.m)))
            .select(col("vec_id") +: (1 to 8).map { j =>
              int8Dot(col("c"), typedlit(p.comps(j - 1).toSeq)).as(s"pc$j")
            }: _*)
      }
    },

    // emb08: JOHNSON–LINDENSTRAUSS random projection 64 → 16 — the
    // model-free companion to emb07's PCA: cheap dimensionality
    // reduction before LSH banding or a coarse ANN pass, with the JL
    // distance-preservation guarantee instead of a learned basis. The
    // ±1 sign matrix is minted from md5 on the driver (jlSigns) and
    // embedded as 16 literal arrays, so the projection is a map-only
    // integer fold: no corpus pass to train, no shuffle, no broadcast,
    // nothing to persist — at 100 TB it fuses into whatever scan feeds
    // it. Integer math end-to-end (int8 grid × ±1), so the DuckDB
    // oracle re-mints the same signs from ITS md5 and matches
    // hash-exact.
    "emb08_jl_project" -> { (s, d) =>
      val q8 = quantized(s, d)
      val signs = jlSigns(PcaDim, JlDim)
      q8.select(col("vec_id") +: (1 to JlDim).map { j =>
        int8Dot(col("q"), typedlit(signs(j - 1).toSeq)).as(s"y$j")
      }: _*)
    },

    // emb09: PCA WHITENING on emb07's top-8 basis — each projection
    // scaled by 1/√λ so every retained component carries unit variance
    // (in milli-sigma integer units), the preconditioning SemDeDup-like
    // semantic dedup and Mahalanobis-style outlier scoring want before
    // cosine thresholds mean the same thing in every direction. Reuses
    // the memoized scatterSolve/pcaSolveK chain (zero extra corpus
    // passes when emb05/06/07 already ran); the per-vector work is the
    // emb07 fold plus one divide-and-round, map-only. The λ literals
    // are the raw-vector Rayleigh quotients the oracle's recursive CTE
    // reproduces bit-exactly, and Spark's round() matches DuckDB's on
    // doubles (the ss05 quantize-grid precedent), so the whitened
    // BIGINTs are hash-exact.
    "emb09_whiten" -> { (s, d) =>
      val q8 = quantized(s, d)
      pcaSolveK(s, d, 8) match {
        case None =>
          q8.select(col("vec_id") +:
            (1 to 8).map(j => lit(0L).as(s"w$j")): _*).limit(0)
        case Some(p) =>
          q8.withColumn("c", int8Sub(col("q"), typedlit(p.m)))
            .select(col("vec_id") +: (1 to 8).map { j =>
              // λ is the SCATTER eigenvalue (Σ over the corpus of the
              // squared projection), so the per-vector std along v_j is
              // √(λ/n); w = proj/√(λ/n) in milli-sigma units. The 1e6
              // component scale inside pc and the 1e3 output scale
              // reduce to /1000.0.
              val lam = p.lams(j - 1)
              val pc = int8Dot(col("c"), typedlit(p.comps(j - 1).toSeq))
              (if (lam > 0.0)
                 round(pc.cast("double") / lit(math.sqrt(lam)) *
                     lit(math.sqrt(p.nVecs.toDouble)) / lit(1000.0))
                   .cast("long")
               else lit(0L)).as(s"w$j")
            }: _*)
      }
    },

    // k-center greedy coreset selection (Gonzalez 1985 farthest-point
    // traversal — the "k-Center-Greedy" diverse-subset selector of
    // Sener & Savarese 2018): grow a center set by repeatedly taking
    // the vector FARTHEST (max-min integer L2 on the shared int8 grid)
    // from the centers chosen so far — the classic 2-approximation of
    // the k-center cover, and the training-data op for "pick a small
    // diverse exemplar set". Scale shape: K=8 BOUNDED driver rounds,
    // each ONE map-only corpus scan against ≤K in-plan literal centers
    // (emb03's idiom) topped by orderBy+limit(1) — planned as
    // TakeOrderedAndProject, top-1 per partition and one row per
    // partition to the driver, NO corpus shuffle at any round.
    // Determinism: all-integer distances, seed = hash-ordered first
    // vector (emb03's fairness rule), argmax ties to the smaller
    // vec_id; the oracle unrolls the identical 8 rounds. The emitted
    // radius is the coverage bound k-center is about: round r's radius
    // = the max-min distance² the first r−1 centers left uncovered (a
    // non-increasing sequence, pinned in SimilaritySpec).
    "emb10_kcenter" -> { (s, d) =>
      import s.implicits._
      kcenterRows(s, d, 8).toDF("round", "vec_id", "radius")
    },

    // Coreset coverage audit over emb10's centers — the report that
    // says whether 8 exemplars actually cover the corpus: assign every
    // vector to its nearest center (min integer L2, ties to the
    // smaller center id — encoded as one struct-min, (d2, cid)
    // lexicographic) and roll up each Voronoi cell's population, mean
    // and worst distance². Scale shape: the 8 centers are in-plan
    // LITERALS (collected from the bounded traversal output), so the
    // assignment is MAP-ONLY — one corpus scan, an 8-row groupBy, zero
    // corpus shuffle; at 100 TB this is the same one-pass audit shape
    // as emb03's fixed-centroid assignment. avg_d2 divides exact
    // integer sums in double (Σd2 < 2^53 — 60k vectors × d2 ≤ 16·254²
    // ≈ 1e6 is 6e10; even 10^9 vectors stay under 2^53... at 10^10+
    // the audit would switch to per-cell sums in two columns), so the
    // doubles are bit-identical across engines.
    "qa09_coreset_coverage" -> { (s, d) =>
      import s.implicits._
      val q8 = quantized(s, d)
      val ids = kcenterRows(s, d, 8).map(_._2)
      // empty corpus → no centers → an empty report of the right shape
      // (empty-in → empty-out, the EmptyCorpusSpec contract; a zero-arm
      // array_min(array()) would be VOID-typed and fail analysis)
      if (ids.isEmpty)
        Seq.empty[(Long, Long, Double, Long)]
          .toDF("center_id", "n_vecs", "avg_d2", "max_d2")
      else {
        val cents = q8.filter(col("vec_id").isin(ids.map(Long.box): _*))
          .collect()
          .map(r => r.getLong(r.fieldIndex("vec_id")) ->
            r.getSeq[Int](r.fieldIndex("q")))
          .sortBy(_._1)
        val best = array_min(array(cents.map { case (cid, v) =>
          struct(sqDistTo(v).as("d2"), lit(cid).as("cid")) }: _*))
        q8.select(best.getField("d2").as("d2"), best.getField("cid").as("cid"))
          .groupBy(col("cid"))
          .agg(count(lit(1)).as("n_vecs"),
            (sum(col("d2")) / count(lit(1))).as("avg_d2"),
            max(col("d2")).as("max_d2"))
          .select(col("cid").as("center_id"), col("n_vecs"),
            col("avg_d2"), col("max_d2"))
      }
    },

    // ANN-quality audit: recall@10 of the persisted IVF index (ss03)
    // against the exact brute-force top-10 (ss01), per probe query —
    // the number an ANN deployment watches before trusting the index.
    // Pure composition of two oracle-gated queries; the overlap is an
    // id semi-join (no float comparison can flake it) and recall
    // divides exact integer counts in double. Bounded everywhere: 10
    // probe queries × top-10 rows per side — at 100 TB the expensive
    // parts (index build, brute-force scan) are the audited queries
    // themselves; the audit adds two 100-row aggregations.
    "qa10_ann_recall" -> { (s, d) => annRecall(s, d, "ss03_ivf_topk") },

    // qa10's audit pointed at the APPENDED index (ss11): recall@10 of
    // the frozen-centroid merged index vs the exact brute force — the
    // drift number an incremental-ingest ANN deployment watches to
    // decide when a retrain is due. Same bounded composition as qa10.
    "qa11_ivf_append_recall" -> { (s, d) =>
      annRecall(s, d, "ss11_ivf_append")
    },

    // The drift POLICY row over qa11's measurement (round-14 verdict:
    // qa11 measures, nothing acts) — micro-averaged recall of the
    // appended index vs the exact brute force, compared against the
    // floor, with the recommendation a scheduler can key on. Floor
    // 0.5: random embeddings cap healthy IVF recall at ~0.79 on this
    // corpus (qa11 at sf0.01), so "drifted" = lost more than a third
    // of that — the production dial is IvfIndex.driftStatus's `floor`
    // argument; the literal here keeps the query oracle-replayable.
    // Exact end-to-end: integer hit/true counts, one double division,
    // one comparison — DuckDB replays all of it bit-for-bit.
    "qa12_ivf_drift_status" -> { (s, d) =>
      val floor = IvfIndex.DefaultRecallFloor
      annRecall(s, d, "ss11_ivf_append")
        .agg(count(lit(1)).as("n_queries"),
          coalesce(sum(col("n_hit")), lit(0L)).as("n_hit"),
          coalesce(sum(col("n_true")), lit(0L)).as("n_true"))
        .select(col("n_queries"), col("n_hit"), col("n_true"),
          when(col("n_true") > 0L,
            col("n_hit").cast("double") / col("n_true").cast("double"))
            .as("recall"),
          lit(floor).as("recall_floor"))
        .withColumn("drifted",
          coalesce(col("recall") < col("recall_floor"), lit(false)))
        .withColumn("action",
          when(col("drifted"), lit("rebuild")).otherwise(lit("none")))
    },

    // Product-quantization ANN (Jégou et al. 2011, "Product
    // Quantization for Nearest Neighbor Search") — the memory-bounded
    // ANN tier: the 64-dim int8 vector is split into M=32 subspaces of
    // 2 dims, each compressed to one code (the id of its nearest
    // 32-entry subspace codebook centroid), so a stored corpus row is
    // 32 five-bit codes (~20 bytes) instead of 256 float bytes, and the
    // query scan computes Σ_m LUT[m][code_m] — M array lookups per row
    // instead of a 64-term dot product, the asymmetric-distance (ADC)
    // trick that makes billion-vector scans fit in memory. Everything
    // is INTEGER (ss05's quantization, emb03's one-round integer Lloyd
    // per subspace via the shared ops.Lloyd skeleton, integer
    // squared-L2 LUT entries ≤ 32·2·254² ≪ 2⁶³), so unlike production
    // float PQ the whole index — codebooks, codes, distances, ranking —
    // is replayed bit-exactly by the oracle. Measured recall@10 vs the
    // exact int8 L2 ranking: 0.76 at sf0.01 (0.10 at the coarser
    // M=4/K=8 — the parameter sweep is in docs/ROUND8.md); the recall
    // spec gates ≥ 0.5. Scale shape: codebooks are M one-round Lloyd
    // fits, memoized per (session, dir) with bounded k×subdim collects
    // (the IvfIndex build/probe split); encoding is a map-only argmin
    // against in-plan literals; the LUT is queries×M×K integers
    // shipped with the 10-query broadcast; the scan is one corpus pass
    // + the ss06 top-k window.
    "ss09_pq_topk" -> { (s, d) =>
      val (enc, qdf) = pqAdc(s, d)
      topK(enc.crossJoin(broadcast(qdf))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("dist", adcDist),
          col("q_id"), 10, "rank", col("dist"), col("vec_id"))
        .select(col("q_id"), col("vec_id"), col("dist"),
          col("rank").cast("int").as("rank"))
    },

    // ss09 with the exact RE-RANK stage production PQ retrieval runs
    // (Jégou et al. 2011 §VII: ADC shortlist, then exact distances on
    // the shortlist): stage 1 takes the top-C = 100 ADC candidates per
    // query (compressed-domain scan, ss09's); stage 2 recomputes the
    // EXACT int8 squared L2 (ss06's integer kernel) for only those
    // C×queries rows and emits the top-10 — recall ≥ 0.95 vs the exact
    // ranking (spec-gated; ss09's one-stage gate is 0.5, measured
    // 0.76), at the cost of C exact distances per query instead of
    // zero. Everything stays integer, so unlike production float PQ
    // the two-stage pipeline is replayed bit-exactly by the oracle.
    // Scale shape: stage 1 is ss09's map-only scan + bounded top-C
    // window; the shortlist (queries×C rows) is tiny, so its
    // vector-fetch join is hint-free and AQE broadcasts it against the
    // quantized corpus — the re-rank never scans more than the
    // shortlist.
    "ss10_pq_rerank" -> { (s, d) =>
      val C = 100
      val q8 = quantized(s, d)
      val (enc, qdf) = pqAdc(s, d)
      val shortlist = topK(enc.crossJoin(broadcast(qdf))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("dist", adcDist),
          col("q_id"), C, "rn", col("dist"), col("vec_id"))
        .select(col("q_id"), col("vec_id"))
      val qs = broadcast(q8.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("q").as("q_q")))
      topK(shortlist.join(q8, Seq("vec_id"))
          .join(qs, Seq("q_id"))
          .withColumn("l2", int8SqDist(col("q"), col("q_q"))),
          col("q_id"), 10, "rank", col("l2"), col("vec_id"))
        .select(col("q_id"), col("vec_id"), col("l2"),
          col("rank").cast("int").as("rank"))
    }
  )

  private val PqM = 32
  private val PqSubD = 2
  private val PqK = 32

  // per-subspace codebooks: emb03's sample rule (hash-ordered first
  // K vectors) seeds all M subspaces; one KEYED integer Lloyd round
  // refines all 32 books in a single assign scan + one
  // (m, cid, dim) agg (Lloyd.iterateKeyed — all argmin work runs
  // through the fused-codegen PqEncode expression; the DataFrame
  // formulation, M columns of array_min over M×K unrolled struct
  // distances, spent seconds per rep in Janino compilation alone).
  // Memoized per (session, dir) — the index build/probe split — and,
  // with an index root configured, persisted through IndexStore as
  // (m, ord, cid, centroid) rows so a later session loads the trained
  // books instead of re-running Lloyd. `ord` preserves each book's
  // in-memory order exactly: pqEncode's argmin breaks ties by scan
  // order, so a reordered book would encode (and thus rank) ties
  // differently than the session that built the index.
  private def pqCodebooksFor(s: SparkSession,
      d: String): Seq[Seq[(Int, Seq[Int])]] =
    pqCodebookCache.get(s, d) {
      val df = graft.IndexStore.dataFrame(s, d, "pq_codebooks",
        "embeddings", persistWhenUnmanaged = false) {
        val built = trainPqCodebooks(s, d)
        import s.implicits._
        built.zipWithIndex.flatMap { case (book, m) =>
          book.zipWithIndex.map { case ((cid, c), ord) => (m, ord, cid, c) }
        }.toDF("m", "ord", "cid", "c")
      }
      val rows = df.collect()
      (0 until PqM).map { m =>
        rows.filter(_.getInt(0) == m).sortBy(_.getInt(1))
          .map(r => (r.getInt(2), r.getSeq[Int](3).toSeq)).toSeq
      }
    }

  private def trainPqCodebooks(s: SparkSession,
      d: String): Seq[Seq[(Int, Seq[Int])]] = {
    val q8 = quantized(s, d)
    val seedVecs = q8
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(PqK).collect().map(_.getSeq[Int](1))
    val init = (0 until PqM).map { m =>
      seedVecs.toSeq
        .map(v => v.slice(m * PqSubD, m * PqSubD + PqSubD).toSeq)
        .zipWithIndex.map { case (c, i) => (i, c) }
    }
    Lloyd.iterateKeyed[Int](q8, "q", init, rounds = 1, subD = PqSubD,
      assignCodes = (vec, books) => pqEncode(vec, books),
      meanExpr = ((sum(col("v").cast("long")) -
        (sum(col("v").cast("long")) % count(lit(1)))) / count(lit(1)))
        .cast("int"),
      decode = _.getInt(3))
  }

  /** The ADC scan pieces shared by ss09/ss10: the PQ-encoded corpus
    * (one fused map-only expression computes all M codes) and the
    * per-query lookup-table broadcast — lut[m][cid] = intL2(qsub,
    * centroid), missing cids (empty clusters) keep a filler no code
    * can reference. */
  private def pqAdc(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val q8 = quantized(s, d)
    val codebooks = pqCodebooksFor(s, d)
    val enc = encCache.get(s, d) {
      graft.IndexStore.dataFrame(s, d, "pq_codes", "embeddings",
        eagerWhenUnmanaged = true) {
        q8.select(col("vec_id"), pqEncode(col("q"), codebooks).as("codes"))
      }
    }
    val qs = q8.filter(col("vec_id") < 10).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1)))
    val lutRows = qs.toSeq.map { case (qid, qv) =>
      val lut = (0 until PqM).map { m =>
        val row = Array.fill(PqK)(Long.MaxValue)
        codebooks(m).foreach { case (cid, c) =>
          row(cid) = intL2(qv.slice(m * PqSubD, m * PqSubD + PqSubD), c) }
        row.toSeq
      }
      (qid, lut)
    }
    import s.implicits._
    (enc, lutRows.toDF("q_id", "lut"))
  }

  /** Σ_m LUT[m][code_m] — M array lookups per row, the ADC trick. */
  private def adcDist: org.apache.spark.sql.Column = (0 until PqM)
    .map(m => element_at(element_at(col("lut"), m + 1),
      element_at(col("codes"), m + 1) + 1))
    .reduce(_ + _)

  // emb07: the deflation recursion. One recursive CTE carries
  // (comp, k, v, S): 12 power steps per component, then at k = 12 the
  // S itself deflates by λvvᵀ (λ recomputed inline — pure expression,
  // same doubles every evaluation) and the iteration restarts at the
  // 0.125 vector for the next component. Every float matches the
  // Scala loop op-for-op: matvec/norm/divide are ascending
  // list_dot_product folds, λ uses the RAW converged v (sign-invariant
  // bitwise — matvec(−v) = −matvec(v) exactly), and the deflation cell
  // is the left-associated S[i][j] − λ·v[i]·v[j].
  private def pcaPowerStepSql(S: String, v: String): String =
    s"""CASE WHEN sqrt(list_dot_product(
       |    list_transform($S, r -> list_dot_product(r, $v)),
       |    list_transform($S, r -> list_dot_product(r, $v)))) = 0.0
       |  THEN $v
       |  ELSE list_transform(
       |    list_transform($S, r -> list_dot_product(r, $v)),
       |    x -> x / sqrt(list_dot_product(
       |      list_transform($S, r -> list_dot_product(r, $v)),
       |      list_transform($S, r -> list_dot_product(r, $v)))))
       |END""".stripMargin

  /** The shared CTE chain behind emb07/emb09: quantize → center →
    * scatter → the (comp, k, v, S) deflation recursion → converged raw
    * vectors with their pre-deflation matrices (vconv), per-component
    * Rayleigh eigenvalues (lams), sign-fixed 1e6-scaled components
    * (scaled). Every float step replays pcaSolveK's ascending folds
    * op-for-op. */
  private val pcaTopkCtes: String = {
    val lam = "list_dot_product(it.v, list_transform(it.S, r -> list_dot_product(r, it.v)))"
    s"""WITH RECURSIVE q8 AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(
       |      CAST(x AS DOUBLE) /
       |        (list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0)
       |    ) AS INT)) AS q
       |  FROM embeddings
       |), mean_cells AS (
       |  SELECT u.i AS pos, CAST((s - (s % n)) // n AS INT) AS m
       |  FROM (
       |    SELECT u.i, CAST(SUM(q[u.i + 1]) AS BIGINT) AS s,
       |      CAST(COUNT(*) AS BIGINT) AS n
       |    FROM q8, UNNEST(range(0, len(q))) AS u(i)
       |    GROUP BY u.i) u(i, s, n)
       |), mlist AS (
       |  SELECT list(m ORDER BY pos) AS m FROM mean_cells
       |), cent AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(range(1, len(q) + 1), i -> q[i] - ml.m[i]) AS c
       |  FROM q8, mlist ml
       |), scat_cells AS (
       |  SELECT u.i AS i, v.j AS j,
       |    CAST(SUM(c[u.i + 1] * c[v.j + 1]) AS BIGINT) AS s
       |  FROM cent, UNNEST(range(0, len(c))) AS u(i),
       |    UNNEST(range(0, len(c))) AS v(j)
       |  GROUP BY u.i, v.j
       |), srows AS (
       |  SELECT i, list(CAST(s AS DOUBLE) ORDER BY j) AS r
       |  FROM scat_cells GROUP BY i
       |), smat AS MATERIALIZED (
       |  SELECT list(r ORDER BY i) AS S FROM srows
       |), it AS (
       |  SELECT 1 AS comp, 0 AS k,
       |    list_transform(range(1, len(m.S) + 1), i -> CAST(0.125 AS DOUBLE)) AS v,
       |    m.S AS S
       |  FROM smat m
       |  UNION ALL
       |  SELECT
       |    CASE WHEN it.k < 12 THEN it.comp ELSE it.comp + 1 END,
       |    CASE WHEN it.k < 12 THEN it.k + 1 ELSE 0 END,
       |    CASE WHEN it.k < 12 THEN ${pcaPowerStepSql("it.S", "it.v")}
       |      ELSE list_transform(range(1, len(it.S) + 1), i -> CAST(0.125 AS DOUBLE))
       |    END,
       |    CASE WHEN it.k < 12 THEN it.S
       |      ELSE list_transform(range(1, len(it.S) + 1), i ->
       |        list_transform(range(1, len(it.S) + 1), j ->
       |          it.S[i][j] - $lam * it.v[i] * it.v[j]))
       |    END
       |  FROM it WHERE it.k < 12 OR it.comp < 8
       |), vconv AS MATERIALIZED (
       |  SELECT comp, v, S FROM it WHERE k = 12
       |), lams AS MATERIALIZED (
       |  SELECT comp,
       |    list_dot_product(v, list_transform(S, r -> list_dot_product(r, v))) AS lam
       |  FROM vconv
       |), vsig AS (
       |  SELECT comp, CASE WHEN list_dot_product(v,
       |      list_transform(range(1, len(v) + 1), i -> CAST(1.0 AS DOUBLE))) < 0.0
       |    THEN list_transform(v, x -> -x) ELSE v END AS v
       |  FROM vconv
       |), scaled AS MATERIALIZED (
       |  SELECT comp, list_transform(v, x -> CAST(round(x * 1000000.0) AS BIGINT)) AS sc
       |  FROM vsig
       |)""".stripMargin
  }

  private val emb07Sql: String =
    s"""$pcaTopkCtes
       |SELECT c.vec_id,
       |${(1 to 8).map(j =>
          s"  CAST(list_dot_product(c.c, (SELECT sc FROM scaled WHERE comp = $j)) AS BIGINT) AS pc$j")
          .mkString(",\n")}
       |FROM cent c""".stripMargin

  // emb09: the emb07 projection divided by √λ (λ from the lams CTE —
  // the same raw-vector Rayleigh expression the deflation uses),
  // rescaled by √n (λ is the scatter eigenvalue, so per-vector std is
  // √(λ/n)) and rounded to milli-sigma BIGINTs; λ ≤ 0 guards to 0
  // exactly as the Scala side does. Float op order (÷√λ, ×√n, ÷1000)
  // mirrors the Column expression token-for-token.
  private val emb09Sql: String =
    s"""$pcaTopkCtes, nv AS MATERIALIZED (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q8
       |)
       |SELECT c.vec_id,
       |${(1 to 8).map(j =>
          s"""  CASE WHEN (SELECT lam FROM lams WHERE comp = $j) > 0.0
             |    THEN CAST(round(
             |      list_dot_product(c.c, (SELECT sc FROM scaled WHERE comp = $j))
             |        / sqrt((SELECT lam FROM lams WHERE comp = $j))
             |        * sqrt(CAST((SELECT n FROM nv) AS DOUBLE)) / 1000.0)
             |      AS BIGINT)
             |    ELSE 0 END AS w$j""".stripMargin)
          .mkString(",\n")}
       |FROM cent c""".stripMargin

  // emb08: both engines mint the identical ±1 sign matrix from md5 and
  // fold it against the shared int8 grid — integer-exact throughout.
  private val emb08Sql: String =
    s"""WITH q8 AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(
       |      CAST(x AS DOUBLE) /
       |        (list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0)
       |    ) AS INT)) AS q
       |  FROM embeddings
       |), proj AS (
       |  SELECT q8.vec_id, v.j AS j,
       |    CAST(SUM(CAST(q[u.i + 1] AS BIGINT) *
       |      (CASE WHEN substr(md5('jl_' || u.i || '_' || v.j), 1, 1) <= '7'
       |            THEN 1 ELSE -1 END)) AS BIGINT) AS y
       |  FROM q8, UNNEST(range(0, len(q))) AS u(i),
       |    UNNEST(range(0, 16)) AS v(j)
       |  GROUP BY q8.vec_id, v.j
       |)
       |SELECT vec_id,
       |${(1 to 16).map(j =>
          s"  MAX(CASE WHEN j = ${j - 1} THEN y END) AS y$j").mkString(",\n")}
       |FROM proj GROUP BY vec_id""".stripMargin

  // The emb10 traversal's integer L2 between q8 row `f` and center row
  // `c` via the expansion x·x − 2x·c + c·c (exactly the Column form's
  // Σ(a−b)² in integers) — shared by the emb10 rounds and qa09's
  // assignment.
  private val kcL2 = "CAST(list_dot_product(f.q, f.q) AS BIGINT) - " +
    "2 * CAST(list_dot_product(f.q, c.q) AS BIGINT) + " +
    "CAST(list_dot_product(c.q, c.q) AS BIGINT)"

  // The 8 farthest-point rounds UNROLLED (gr05's unrolled-iteration
  // idiom) — per round, min integer L2 against the accumulated center
  // set, argmax with ties to the smaller vec_id, centers carried
  // forward by UNION ALL. Shared CTE chain (the dsirCtes precedent):
  // emb10 reads the per-round picks p$r, qa09 reads the final center
  // set cents8 — the traversal SQL exists exactly once.
  private lazy val emb10Ctes: String = {
    val K = 8
    // cents$r is consumed 3x by round r+1 (the distance scan, the
    // NOT-IN exclusion, the union carry) plus qa09's assignment;
    // without AS MATERIALIZED the inliner re-expands the whole
    // traversal prefix per reference — exponential in K (the round-12
    // recursive-CTE lesson, tools/profile_oracle.py)
    val rounds = (2 to K).map { r =>
      s"""m$r AS (
         |  SELECT f.vec_id, MIN($kcL2) AS radius
         |  FROM q8 f CROSS JOIN cents${r - 1} c
         |  WHERE f.vec_id NOT IN (SELECT vec_id FROM cents${r - 1})
         |  GROUP BY f.vec_id
         |), p$r AS (SELECT vec_id, radius FROM m$r
         |  ORDER BY radius DESC, vec_id LIMIT 1),
         |cents$r AS MATERIALIZED (SELECT vec_id, q FROM cents${r - 1}
         |  UNION ALL SELECT q8.vec_id, q8.q FROM q8 JOIN p$r USING (vec_id))"""
        .stripMargin
    }.mkString(",\n")
    s"""q8 AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(
       |      CAST(x AS DOUBLE) /
       |        (list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0)
       |    ) AS INT)) AS q
       |  FROM embeddings
       |),
       |c1 AS (SELECT vec_id, q FROM q8
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1),
       |cents1 AS (SELECT vec_id, q FROM c1),
       |$rounds""".stripMargin
  }

  private lazy val emb10Sql: String = {
    val outs = (2 to 8)
      .map(r => s"SELECT CAST($r AS INT) AS round, vec_id, radius FROM p$r")
      .mkString("\nUNION ALL ")
    s"""WITH $emb10Ctes
       |SELECT CAST(1 AS INT) AS round, vec_id, CAST(0 AS BIGINT) AS radius FROM c1
       |UNION ALL $outs""".stripMargin
  }

  // qa09: the emb10 chain + Voronoi assignment — min L2 per corpus
  // vector, argmin ties to the smaller center id (re-derived by joining
  // the achieved minimum back, the same two-step the Spark struct-min
  // encodes), then one 8-row rollup. avg_d2 divides exact integer sums
  // in double (tx09's bit-identical rationale: Σd2 < 2^53).
  private lazy val qa09Sql: String =
    s"""WITH $emb10Ctes,
       |cents AS MATERIALIZED (SELECT vec_id AS cid, q FROM cents8),
       |dmin AS (
       |  SELECT f.vec_id, MIN($kcL2) AS d2
       |  FROM q8 f CROSS JOIN cents c
       |  GROUP BY f.vec_id),
       |asg AS (
       |  SELECT f.vec_id, dm.d2, MIN(c.cid) AS cid
       |  FROM q8 f JOIN dmin dm USING (vec_id) CROSS JOIN cents c
       |  WHERE $kcL2 = dm.d2
       |  GROUP BY f.vec_id, dm.d2)
       |SELECT cid AS center_id, COUNT(*) AS n_vecs,
       |  CAST(SUM(d2) AS BIGINT) / COUNT(*) AS avg_d2,
       |  MAX(d2) AS max_d2
       |FROM asg GROUP BY cid""".stripMargin

  // The ss03 persisted-index replay as a shared CTE chain (the
  // dsirCtes/emb10Ctes precedent): the integer coarse-quantizer train
  // (hash-ordered seeds, one truncating-integer-mean Lloyd round),
  // cell membership, the nprobe=3 probed cells, exact double cosine
  // scoring, and the final per-query top-10 as `ivf_topk` — consumed
  // by the ss03/ss11 oracles and the qa10/qa11 recall audits, so the
  // index SQL exists exactly once. `trainWhere` restricts the TRAINER's
  // input (seeds + the one Lloyd round) — ss11 trains on the standing
  // corpus only while cell assignment still covers every vector, which
  // is exactly what an incremental append does.
  private def ivfCtes(trainWhere: String): String =
      s"""q8 AS MATERIALIZED (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(
        |      CAST(x AS DOUBLE) /
        |        (list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0)
        |    ) AS INT)) AS q
        |  FROM embeddings
        |),
        |seeds AS (
        |  SELECT CAST(ROW_NUMBER() OVER (
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) AS cid, q
        |  FROM (SELECT vec_id, q FROM q8 $trainWhere
        |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16) t
        |),
        |a1 AS (
        |  SELECT vec_id, q, cid FROM (
        |    SELECT x.vec_id, x.q, s.cid,
        |      ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
        |        CAST(list_dot_product(x.q, x.q) AS BIGINT)
        |          - 2 * CAST(list_dot_product(x.q, s.q) AS BIGINT)
        |          + CAST(list_dot_product(s.q, s.q) AS BIGINT), s.cid) AS rn
        |    FROM (SELECT vec_id, q FROM q8 $trainWhere) x, seeds s) z
        |  WHERE rn = 1
        |),
        |sums AS (
        |  SELECT cid, u.i AS pos, CAST(SUM(q[u.i + 1]) AS BIGINT) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM a1, UNNEST(range(0, len(q))) AS u(i)
        |  GROUP BY cid, u.i
        |),
        |newc AS MATERIALIZED (
        |  SELECT cid, list(CAST((s - (s % n)) // n AS INT) ORDER BY pos) AS q
        |  FROM sums GROUP BY cid
        |),
        |cells AS MATERIALIZED (
        |  SELECT vec_id, cid AS cell FROM (
        |    SELECT x.vec_id, c.cid,
        |      ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
        |        CAST(list_dot_product(x.q, x.q) AS BIGINT)
        |          - 2 * CAST(list_dot_product(x.q, c.q) AS BIGINT)
        |          + CAST(list_dot_product(c.q, c.q) AS BIGINT), c.cid) AS rn
        |    FROM q8 x, newc c) z
        |  WHERE rn = 1
        |),
        |probe AS (
        |  SELECT q_id, cell FROM (
        |    SELECT qv.vec_id AS q_id, c.cid AS cell,
        |      ROW_NUMBER() OVER (PARTITION BY qv.vec_id ORDER BY
        |        CAST(list_dot_product(qv.q, qv.q) AS BIGINT)
        |          - 2 * CAST(list_dot_product(qv.q, c.q) AS BIGINT)
        |          + CAST(list_dot_product(c.q, c.q) AS BIGINT), c.cid) AS rn
        |    FROM (SELECT vec_id, q FROM q8 WHERE vec_id < 10) qv, newc c) z
        |  WHERE rn <= 3
        |),
        |e AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |),
        |scored AS (
        |  SELECT p.q_id, c.vec_id,
        |    list_dot_product(x.v, qv.v) /
        |      (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(qv.v, qv.v))) AS cos
        |  FROM probe p
        |  JOIN cells c ON c.cell = p.cell AND c.vec_id != p.q_id
        |  JOIN e x ON x.vec_id = c.vec_id
        |  JOIN e qv ON qv.vec_id = p.q_id
        |),
        |ivf_topk AS MATERIALIZED (
        |  SELECT q_id, vec_id, cos, CAST(rn AS INT) AS rank FROM (
        |    SELECT q_id, vec_id, cos,
        |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
        |    FROM scored) z
        |  WHERE rn <= 10)""".stripMargin

  private lazy val ss03Ctes: String = ivfCtes("")
  // ss11: the trainer sees only the standing 90%; `cells` (assignment)
  // still covers every vector — the appended batch lands under frozen
  // centroids, exactly what IvfIndex.append does
  private lazy val ss11Ctes: String = ivfCtes("WHERE vec_id % 10 <> 0")

  // the qa10/qa11 recall-audit CTEs over whichever ivf_topk chain
  // precedes them: exact brute-force top-10 per probe (ss01's scoring
  // over the SAME `e` table), id semi-join overlap, integer-count
  // recall in double. Split from the final SELECT so qa12 can
  // aggregate the same per-query rows instead of duplicating the SQL.
  private lazy val annRecallCtes: String =
      """bf AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q.vec_id AS q_id, x.vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_dot_product(x.v, q.v) /
        |          (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(q.v, q.v))) DESC,
        |        x.vec_id) AS rn
        |    FROM e x, e q
        |    WHERE q.vec_id < 10 AND x.vec_id != q.vec_id) t
        |  WHERE rn <= 10
        |),
        |hit AS (
        |  SELECT b.q_id, CAST(COUNT(*) AS BIGINT) AS n_hit
        |  FROM bf b JOIN ivf_topk iv
        |    ON iv.q_id = b.q_id AND iv.vec_id = b.vec_id
        |  GROUP BY b.q_id
        |),
        |base AS (
        |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_true
        |  FROM bf GROUP BY q_id
        |)""".stripMargin

  private lazy val annRecallTail: String =
      s"""$annRecallCtes
        |SELECT b.q_id, b.n_true,
        |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / b.n_true AS recall
        |FROM base b LEFT JOIN hit h USING (q_id)""".stripMargin

  // ss01 oracle: DuckDB list_dot_product over double-cast lists matches
  // the sequential double fold of VecDot (validated empirically).
  def oracle: Map[String, String] = Map(
    "emb10_kcenter" -> emb10Sql,
    "qa09_coreset_coverage" -> qa09Sql,
    "emb07_pca_topk" -> emb07Sql,
    "emb08_jl_project" -> emb08Sql,
    "emb09_whiten" -> emb09Sql,
    "ss04_topk_aggregated" -> ss01Sql,
    "ss01_topk_bruteforce" -> ss01Sql,
    "ss07_range_search" ->
      """WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS q_id, x.vec_id,
        |    list_dot_product(x.v, q.v) /
        |      (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(q.v, q.v))) AS cos
        |  FROM e x, e q
        |  WHERE q.vec_id < 10 AND x.vec_id != q.vec_id)
        |SELECT q_id, vec_id, cos FROM scored WHERE cos >= 0.2""".stripMargin,
    // ss08: raw dot ranking; ROW_NUMBER ties broken by vec_id exactly
    // as the Spark window's order does.
    "ss08_mips_topk" ->
      """WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS q_id, x.vec_id,
        |    list_dot_product(x.v, q.v) AS dot
        |  FROM e x, e q
        |  WHERE q.vec_id < 10 AND x.vec_id != q.vec_id)
        |SELECT q_id, vec_id, dot, CAST(rank AS INT) AS rank FROM (
        |  SELECT q_id, vec_id, dot,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 10""".stripMargin,

    "ss02_lsh_topk" -> ss02Sql,
    "ss06_int8_topk" ->
      """WITH q8 AS MATERIALIZED (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(
        |      CAST(x AS DOUBLE) /
        |        (list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0)
        |    ) AS INT)) AS q
        |  FROM embeddings
        |), scored AS (
        |  SELECT q.vec_id AS q_id, x.vec_id,
        |    CAST(list_dot_product(x.q, q.q) AS BIGINT) AS score
        |  FROM q8 x, q8 q
        |  WHERE q.vec_id < 10 AND x.vec_id != q.vec_id
        |)
        |SELECT q_id, vec_id, score, CAST(rank AS INT) AS rank FROM (
        |  SELECT q_id, vec_id, score,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 10""".stripMargin,

    // `+ 0.0` canonicalizes IEEE -0.0 to +0.0: DuckDB's double round
    // yields -0.0 for tiny negative means where Spark's BigDecimal-based
    // round yields +0.0, and the comparator distinguishes their reprs.
    "emb02_knn_classify" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), scored AS (
        |  SELECT q.vec_id AS q_id, q.label AS true_label, x.label,
        |    list_dot_product(x.v, q.v) /
        |      (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(q.v, q.v))) AS cos,
        |    x.vec_id
        |  FROM e x, e q
        |  WHERE q.vec_id % 100 = 0 AND x.vec_id % 100 != 0
        |), nn AS (
        |  SELECT q_id, true_label, label FROM (
        |    SELECT q_id, true_label, label,
        |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
        |    FROM scored) t
        |  WHERE rn <= 5
        |), votes AS (
        |  SELECT q_id, true_label, label, COUNT(*) AS n_votes
        |  FROM nn GROUP BY q_id, true_label, label
        |)
        |SELECT q_id, true_label, label AS pred_label, n_votes FROM (
        |  SELECT q_id, true_label, label, n_votes,
        |    ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY n_votes DESC, label) AS vr
        |  FROM votes) t
        |WHERE vr = 1""".stripMargin,

    // emb05: the ENTIRE chain replayed — ss05 quantization, truncating
    // integer means, the full d×d integer scatter (the explode form
    // here; the Spark side's ScatterAggregate emits identical cells),
    // then 12 power-iteration rounds as a recursive CTE whose matvec /
    // norm / divide are sequential list folds of the same doubles in
    // the same order (list_dot_product ≡ the Scala ascending loop —
    // pinned by SimilaritySpec), sign fix, 6-decimal scaling, and the
    // BIGINT projection. The CAST(0.125 AS DOUBLE) anchor matters: a
    // bare 0.125 literal is DECIMAL(4,3) and would quantize the whole
    // recursion to 3 decimals. The nrm = 0 CASE mirrors the Scala
    // degenerate-corpus guard (zero scatter keeps v, never 0/0).
    "emb05_pca_project" ->
      """WITH RECURSIVE q8 AS MATERIALIZED (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(
        |      CAST(x AS DOUBLE) /
        |        (list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0)
        |    ) AS INT)) AS q
        |  FROM embeddings
        |), mean_cells AS (
        |  SELECT u.i AS pos, CAST((s - (s % n)) // n AS INT) AS m
        |  FROM (
        |    SELECT u.i, CAST(SUM(q[u.i + 1]) AS BIGINT) AS s,
        |      CAST(COUNT(*) AS BIGINT) AS n
        |    FROM q8, UNNEST(range(0, len(q))) AS u(i)
        |    GROUP BY u.i) u(i, s, n)
        |), mlist AS (
        |  SELECT list(m ORDER BY pos) AS m FROM mean_cells
        |), cent AS MATERIALIZED (
        |  SELECT vec_id,
        |    list_transform(range(1, len(q) + 1), i -> q[i] - ml.m[i]) AS c
        |  FROM q8, mlist ml
        |), scat_cells AS (
        |  SELECT u.i AS i, v.j AS j,
        |    CAST(SUM(c[u.i + 1] * c[v.j + 1]) AS BIGINT) AS s
        |  FROM cent, UNNEST(range(0, len(c))) AS u(i),
        |    UNNEST(range(0, len(c))) AS v(j)
        |  GROUP BY u.i, v.j
        |), srows AS (
        |  SELECT i, list(CAST(s AS DOUBLE) ORDER BY j) AS r
        |  FROM scat_cells GROUP BY i
        |), smat AS MATERIALIZED (
        |  SELECT list(r ORDER BY i) AS S FROM srows
        |), it AS (
        |  SELECT 0 AS k,
        |    list_transform(range(1, len(m.S) + 1), i -> CAST(0.125 AS DOUBLE)) AS v
        |  FROM smat m
        |  UNION ALL
        |  SELECT k + 1,
        |    CASE WHEN sqrt(list_dot_product(
        |        list_transform(m.S, r -> list_dot_product(r, it.v)),
        |        list_transform(m.S, r -> list_dot_product(r, it.v)))) = 0.0
        |      THEN it.v
        |      ELSE list_transform(
        |        list_transform(m.S, r -> list_dot_product(r, it.v)),
        |        x -> x / sqrt(list_dot_product(
        |          list_transform(m.S, r -> list_dot_product(r, it.v)),
        |          list_transform(m.S, r -> list_dot_product(r, it.v)))))
        |    END
        |  FROM it, smat m WHERE k < 12
        |), vfin AS (
        |  SELECT v FROM it WHERE k = 12
        |), vsig AS (
        |  SELECT CASE WHEN list_dot_product(v,
        |      list_transform(range(1, len(v) + 1), i -> CAST(1.0 AS DOUBLE))) < 0.0
        |    THEN list_transform(v, x -> -x) ELSE v END AS v
        |  FROM vfin
        |), scaled AS MATERIALIZED (
        |  SELECT list_transform(v, x -> CAST(round(x * 1000000.0) AS BIGINT)) AS sc
        |  FROM vsig
        |)
        |SELECT c.vec_id, CAST(list_dot_product(c.c, s.sc) AS BIGINT) AS pc1
        |FROM cent c, scaled s""".stripMargin,

    // emb06: emb05's chain with the Rayleigh tail instead of the
    // projection — λ₁ = vᵀ(S·v) on the sign-fixed vector (both dots
    // sequential ascending, matching the Scala folds), the exact
    // BIGINT trace from the diagonal cells, and the two floats emitted
    // as scale-0-rounded integers (the validated round semantics).
    "emb06_pca_variance" ->
      """WITH RECURSIVE q8 AS MATERIALIZED (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(
        |      CAST(x AS DOUBLE) /
        |        (list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0)
        |    ) AS INT)) AS q
        |  FROM embeddings
        |), mean_cells AS (
        |  SELECT u.i AS pos, CAST((s - (s % n)) // n AS INT) AS m
        |  FROM (
        |    SELECT u.i, CAST(SUM(q[u.i + 1]) AS BIGINT) AS s,
        |      CAST(COUNT(*) AS BIGINT) AS n
        |    FROM q8, UNNEST(range(0, len(q))) AS u(i)
        |    GROUP BY u.i) u(i, s, n)
        |), mlist AS (
        |  SELECT list(m ORDER BY pos) AS m FROM mean_cells
        |), cent AS MATERIALIZED (
        |  SELECT vec_id,
        |    list_transform(range(1, len(q) + 1), i -> q[i] - ml.m[i]) AS c
        |  FROM q8, mlist ml
        |), scat_cells AS (
        |  SELECT u.i AS i, v.j AS j,
        |    CAST(SUM(c[u.i + 1] * c[v.j + 1]) AS BIGINT) AS s
        |  FROM cent, UNNEST(range(0, len(c))) AS u(i),
        |    UNNEST(range(0, len(c))) AS v(j)
        |  GROUP BY u.i, v.j
        |), srows AS (
        |  SELECT i, list(CAST(s AS DOUBLE) ORDER BY j) AS r
        |  FROM scat_cells GROUP BY i
        |), smat AS MATERIALIZED (
        |  SELECT list(r ORDER BY i) AS S FROM srows
        |), it AS (
        |  SELECT 0 AS k,
        |    list_transform(range(1, len(m.S) + 1), i -> CAST(0.125 AS DOUBLE)) AS v
        |  FROM smat m
        |  UNION ALL
        |  SELECT k + 1,
        |    CASE WHEN sqrt(list_dot_product(
        |        list_transform(m.S, r -> list_dot_product(r, it.v)),
        |        list_transform(m.S, r -> list_dot_product(r, it.v)))) = 0.0
        |      THEN it.v
        |      ELSE list_transform(
        |        list_transform(m.S, r -> list_dot_product(r, it.v)),
        |        x -> x / sqrt(list_dot_product(
        |          list_transform(m.S, r -> list_dot_product(r, it.v)),
        |          list_transform(m.S, r -> list_dot_product(r, it.v)))))
        |    END
        |  FROM it, smat m WHERE k < 12
        |), vfin AS (
        |  SELECT v FROM it WHERE k = 12
        |), vsig AS (
        |  SELECT CASE WHEN list_dot_product(v,
        |      list_transform(range(1, len(v) + 1), i -> CAST(1.0 AS DOUBLE))) < 0.0
        |    THEN list_transform(v, x -> -x) ELSE v END AS v
        |  FROM vfin
        |), ray AS (
        |  SELECT list_dot_product(vs.v,
        |    list_transform(m.S, r -> list_dot_product(r, vs.v))) AS lam
        |  FROM vsig vs, smat m
        |), tr AS (
        |  SELECT CAST(SUM(s) AS BIGINT) AS trace FROM scat_cells WHERE i = j
        |), nv AS MATERIALIZED (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs FROM q8
        |)
        |SELECT n_vecs, trace,
        |  CAST(round(lam * 10000.0) AS BIGINT) AS lambda1_e4,
        |  CASE WHEN trace = 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST(round(lam / CAST(trace AS DOUBLE) * 1000000.0) AS BIGINT)
        |  END AS var_ratio_e6
        |FROM nv, tr, ray""".stripMargin,

    // emb04: emb01's rounded centroid assembled into a list, then the
    // ss01-validated cosine (sequential double fold both sides) and a
    // deterministic (cos, vec_id) bottom-5 window per label.
    "emb04_centroid_outliers" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), sums AS (
        |  SELECT label, u.i AS pos, round(avg(v[u.i + 1]), 4) + 0.0 AS c
        |  FROM e, UNNEST(range(0, len(v))) AS u(i)
        |  GROUP BY label, u.i
        |), cent AS MATERIALIZED (
        |  SELECT label, list(c ORDER BY pos) AS cvec FROM sums GROUP BY label
        |), scored AS (
        |  SELECT x.label, x.vec_id,
        |    list_dot_product(x.v, c.cvec) /
        |      (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(c.cvec, c.cvec))) AS cos
        |  FROM e x JOIN cent c USING (label)
        |)
        |SELECT label, vec_id, cos, CAST(rn AS INT) AS rank FROM (
        |  SELECT label, vec_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY cos, vec_id) AS rn
        |  FROM scored) z
        |WHERE rn <= 5""".stripMargin,

    "emb01_label_centroid" ->
      """SELECT label, CAST(i - 1 AS INT) AS dim,
        |  round(avg(CAST(embedding[i] AS DOUBLE)), 4) + 0.0 AS centroid,
        |  count(*) AS n_vecs
        |FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
        |GROUP BY label, i""".stripMargin,
    // emb03 replayed stage-for-stage: same quantization grid, same
    // hash-ordered seeds, same integer distances (the expansion
    // ldp(x,x) - 2·ldp(x,c) + ldp(c,c) equals the int8SqDist
    // kernel exactly — integer arithmetic has no rounding to disagree
    // on), same truncating integer mean.
    // ss09: the ENTIRE product-quantization index replayed — same int8
    // vectors, same hash-ordered seeds per subspace, same one-round
    // integer Lloyd (emb03's recurrence keyed by subspace m), same
    // argmin encoding, and ADC distance recomputed as Σ_m l2(qsub_m,
    // centroid[code_m]) — the exact integers Spark's LUT lookups sum.
    "ss09_pq_topk" ->
      s"""$pqCoreSql
         |SELECT q_id, vec_id, dist, CAST(rn AS INT) AS rank FROM (
         |  SELECT q_id, vec_id, dist,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn
         |  FROM dists) z
         |WHERE rn <= 10""".stripMargin,

    // ss10: ss09's replay extended by the two-stage form — the ADC
    // shortlist is rn <= 100 over the identical (dist, vec_id) order,
    // and the exact stage is the integer L2 identity ldp(x,x) −
    // 2·ldp(x,q) + ldp(q,q), which equals Spark's int8SqDist
    // kernel exactly (integer arithmetic has no rounding to disagree
    // on — the emb03 argument).
    "ss10_pq_rerank" ->
      s"""$pqCoreSql,
         |short AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn
         |    FROM dists) z
         |  WHERE rn <= 100
         |),
         |ex AS (
         |  SELECT s.q_id, s.vec_id,
         |    CAST(list_dot_product(x.q, x.q) AS BIGINT)
         |      - 2 * CAST(list_dot_product(x.q, qq.q) AS BIGINT)
         |      + CAST(list_dot_product(qq.q, qq.q) AS BIGINT) AS l2
         |  FROM short s
         |  JOIN q8 x ON x.vec_id = s.vec_id
         |  JOIN q8 qq ON qq.vec_id = s.q_id
         |)
         |SELECT q_id, vec_id, l2, CAST(rn AS INT) AS rank FROM (
         |  SELECT q_id, vec_id, l2,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY l2, vec_id) AS rn
         |  FROM ex) z
         |WHERE rn <= 10""".stripMargin,

    "emb03_kmeans_int" ->
      """WITH q8 AS MATERIALIZED (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(
        |      CAST(x AS DOUBLE) /
        |        (list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0)
        |    ) AS INT)) AS q
        |  FROM embeddings
        |),
        |seeds AS (
        |  SELECT CAST(ROW_NUMBER() OVER (
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) AS cid, q
        |  FROM (SELECT vec_id, q FROM q8
        |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8) t
        |),
        |a1 AS (
        |  SELECT vec_id, q, cid FROM (
        |    SELECT x.vec_id, x.q, s.cid,
        |      ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
        |        CAST(list_dot_product(x.q, x.q) AS BIGINT)
        |          - 2 * CAST(list_dot_product(x.q, s.q) AS BIGINT)
        |          + CAST(list_dot_product(s.q, s.q) AS BIGINT), s.cid) AS rn
        |    FROM q8 x, seeds s) z
        |  WHERE rn = 1
        |),
        |sums AS (
        |  SELECT cid, u.i AS pos, CAST(SUM(q[u.i + 1]) AS BIGINT) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM a1, UNNEST(range(0, len(q))) AS u(i)
        |  GROUP BY cid, u.i
        |),
        |newc AS MATERIALIZED (
        |  SELECT cid, list(CAST((s - (s % n)) // n AS INT) ORDER BY pos) AS q
        |  FROM sums GROUP BY cid
        |)
        |SELECT vec_id, cid AS c_id, dist FROM (
        |  SELECT x.vec_id, c.cid,
        |    CAST(list_dot_product(x.q, x.q) AS BIGINT)
        |      - 2 * CAST(list_dot_product(x.q, c.q) AS BIGINT)
        |      + CAST(list_dot_product(c.q, c.q) AS BIGINT) AS dist,
        |    ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
        |      CAST(list_dot_product(x.q, x.q) AS BIGINT)
        |        - 2 * CAST(list_dot_product(x.q, c.q) AS BIGINT)
        |        + CAST(list_dot_product(c.q, c.q) AS BIGINT), c.cid) AS rn
        |  FROM q8 x, newc c) z
        |WHERE rn = 1""".stripMargin,

    // ss03: the PERSISTED-index probe replayed end-to-end — ss03b's
    // integer chain (same K=16 Lloyd, same argmin ties) decides cell
    // membership and the nprobe=3 probed cells, then the exact double
    // cosine over the original FLOAT vectors (ss01's kernel: DuckDB's
    // list_dot_product equals Spark's sequential VecDot fold) ranks
    // the candidates. Build/probe decisions integer, score float —
    // both replayable, so the persisted-index query is hash-exact.
    "ss03_ivf_topk" -> s"""WITH $ss03Ctes
        |SELECT q_id, vec_id, cos, rank FROM ivf_topk""".stripMargin,

    // qa10: the ANN-quality audit — per probe query, how many of the
    // exact brute-force top-10 the persisted IVF index actually
    // returned. Both sides re-derived from the already-gated chains
    // (ss03's CTE chain + ss01's scoring over the SAME `e` table), the
    // overlap is a pure id semi-join (float-independent), and recall
    // divides exact integer counts in double.
    "qa10_ann_recall" -> s"WITH $ss03Ctes,\n$annRecallTail",

    // ss11: the incremental-append path — frozen standing-corpus
    // centroids, every vector (standing + appended batch) assigned
    // under them, same probe and scoring as ss03.
    "ss11_ivf_append" -> s"""WITH $ss11Ctes
        |SELECT q_id, vec_id, cos, rank FROM ivf_topk""".stripMargin,

    // qa11: qa10's recall audit pointed at the APPENDED index — the
    // number that says whether absorbing a new batch under frozen
    // centroids degraded search quality.
    "qa11_ivf_append_recall" -> s"WITH $ss11Ctes,\n$annRecallTail",

    // qa12: the drift-policy row — the same per-query recall rows as
    // qa11, micro-aggregated and compared against the floor. The
    // division and comparison run on exact integer sums on both
    // engines.
    "qa12_ivf_drift_status" -> s"""WITH $ss11Ctes,
        |$annRecallCtes,
        |rc AS (
        |  SELECT b.q_id, b.n_true, CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit
        |  FROM base b LEFT JOIN hit h USING (q_id))
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  CAST(COALESCE(SUM(n_hit), 0) AS BIGINT) AS n_hit,
        |  CAST(COALESCE(SUM(n_true), 0) AS BIGINT) AS n_true,
        |  CASE WHEN COALESCE(SUM(n_true), 0) > 0
        |    THEN CAST(SUM(n_hit) AS DOUBLE) / CAST(SUM(n_true) AS DOUBLE)
        |  END AS recall,
        |  CAST(${IvfIndex.DefaultRecallFloor} AS DOUBLE) AS recall_floor,
        |  COALESCE(CAST(SUM(n_hit) AS DOUBLE) / CAST(SUM(n_true) AS DOUBLE)
        |    < ${IvfIndex.DefaultRecallFloor}, FALSE) AS drifted,
        |  CASE WHEN COALESCE(CAST(SUM(n_hit) AS DOUBLE)
        |      / CAST(SUM(n_true) AS DOUBLE) < ${IvfIndex.DefaultRecallFloor},
        |      FALSE)
        |    THEN 'rebuild' ELSE 'none' END AS action
        |FROM rc""".stripMargin,

    // ss03b: the IVF build + probe replayed end-to-end — emb03's Lloyd
    // chain at K=16 (same hash-ordered seeds, same truncating integer
    // mean, same argmin tie rule), then the nprobe=4 nearest cells per
    // query and exact integer L2 within them. list_dot_product's l2
    // identity ldp(x,x) − 2·ldp(x,q) + ldp(q,q) equals Spark's
    // int8SqDist kernel exactly (integer arithmetic — the emb03
    // argument).
    "ss03b_ivf_int8_topk" ->
      """WITH q8 AS MATERIALIZED (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(
        |      CAST(x AS DOUBLE) /
        |        (list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0)
        |    ) AS INT)) AS q
        |  FROM embeddings
        |),
        |seeds AS (
        |  SELECT CAST(ROW_NUMBER() OVER (
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) AS cid, q
        |  FROM (SELECT vec_id, q FROM q8
        |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16) t
        |),
        |a1 AS (
        |  SELECT vec_id, q, cid FROM (
        |    SELECT x.vec_id, x.q, s.cid,
        |      ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
        |        CAST(list_dot_product(x.q, x.q) AS BIGINT)
        |          - 2 * CAST(list_dot_product(x.q, s.q) AS BIGINT)
        |          + CAST(list_dot_product(s.q, s.q) AS BIGINT), s.cid) AS rn
        |    FROM q8 x, seeds s) z
        |  WHERE rn = 1
        |),
        |sums AS (
        |  SELECT cid, u.i AS pos, CAST(SUM(q[u.i + 1]) AS BIGINT) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM a1, UNNEST(range(0, len(q))) AS u(i)
        |  GROUP BY cid, u.i
        |),
        |newc AS MATERIALIZED (
        |  SELECT cid, list(CAST((s - (s % n)) // n AS INT) ORDER BY pos) AS q
        |  FROM sums GROUP BY cid
        |),
        |cells AS MATERIALIZED (
        |  SELECT vec_id, q, cid AS cell FROM (
        |    SELECT x.vec_id, x.q, c.cid,
        |      ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
        |        CAST(list_dot_product(x.q, x.q) AS BIGINT)
        |          - 2 * CAST(list_dot_product(x.q, c.q) AS BIGINT)
        |          + CAST(list_dot_product(c.q, c.q) AS BIGINT), c.cid) AS rn
        |    FROM q8 x, newc c) z
        |  WHERE rn = 1
        |),
        |probe AS (
        |  SELECT q_id, cell, qq FROM (
        |    SELECT qv.vec_id AS q_id, c.cid AS cell, qv.q AS qq,
        |      ROW_NUMBER() OVER (PARTITION BY qv.vec_id ORDER BY
        |        CAST(list_dot_product(qv.q, qv.q) AS BIGINT)
        |          - 2 * CAST(list_dot_product(qv.q, c.q) AS BIGINT)
        |          + CAST(list_dot_product(c.q, c.q) AS BIGINT), c.cid) AS rn
        |    FROM (SELECT vec_id, q FROM q8 WHERE vec_id < 10) qv, newc c) z
        |  WHERE rn <= 4
        |)
        |SELECT q_id, vec_id, dist, CAST(rn AS INT) AS rank FROM (
        |  SELECT p.q_id, c.vec_id,
        |    CAST(list_dot_product(c.q, c.q) AS BIGINT)
        |      - 2 * CAST(list_dot_product(c.q, p.qq) AS BIGINT)
        |      + CAST(list_dot_product(p.qq, p.qq) AS BIGINT) AS dist,
        |    ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY
        |      CAST(list_dot_product(c.q, c.q) AS BIGINT)
        |        - 2 * CAST(list_dot_product(c.q, p.qq) AS BIGINT)
        |        + CAST(list_dot_product(p.qq, p.qq) AS BIGINT), c.vec_id) AS rn
        |  FROM probe p JOIN cells c
        |    ON c.cell = p.cell AND c.vec_id != p.q_id) z
        |WHERE rn <= 10""".stripMargin,

    // ss03c: BOTH index chains replayed end-to-end — pqCoreSql's PQ
    // chain (codes + per-pair ADC dists) and ss03b's IVF chain (the
    // identical K=16 Lloyd recurrence, c-prefixed to avoid CTE name
    // clashes), composed: the shortlist is the ADC top-100 restricted
    // to each query's nprobe=10 probed cells, the final ranking is the
    // exact integer L2 identity on the shortlist (the emb03 argument:
    // integer arithmetic has no rounding to disagree on).
    "ss03c_ivfadc_rerank" ->
      s"""$pqCoreSql,
         |cseeds AS (
         |  SELECT CAST(ROW_NUMBER() OVER (
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) AS cid, q
         |  FROM (SELECT vec_id, q FROM q8
         |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16) t
         |),
         |ca1 AS (
         |  SELECT vec_id, q, cid FROM (
         |    SELECT x.vec_id, x.q, s.cid,
         |      ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
         |        CAST(list_dot_product(x.q, x.q) AS BIGINT)
         |          - 2 * CAST(list_dot_product(x.q, s.q) AS BIGINT)
         |          + CAST(list_dot_product(s.q, s.q) AS BIGINT), s.cid) AS rn
         |    FROM q8 x, cseeds s) z
         |  WHERE rn = 1
         |),
         |csums AS (
         |  SELECT cid, u.i AS pos, CAST(SUM(q[u.i + 1]) AS BIGINT) AS s,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM ca1, UNNEST(range(0, len(q))) AS u(i)
         |  GROUP BY cid, u.i
         |),
         |cnewc AS MATERIALIZED (
         |  SELECT cid, list(CAST((s - (s % n)) // n AS INT) ORDER BY pos) AS q
         |  FROM csums GROUP BY cid
         |),
         |vcell AS (
         |  SELECT vec_id, cid AS cell FROM (
         |    SELECT x.vec_id, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
         |        CAST(list_dot_product(x.q, x.q) AS BIGINT)
         |          - 2 * CAST(list_dot_product(x.q, c.q) AS BIGINT)
         |          + CAST(list_dot_product(c.q, c.q) AS BIGINT), c.cid) AS rn
         |    FROM q8 x, cnewc c) z
         |  WHERE rn = 1
         |),
         |cprobe AS (
         |  SELECT q_id, cell FROM (
         |    SELECT qv.vec_id AS q_id, c.cid AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY qv.vec_id ORDER BY
         |        CAST(list_dot_product(qv.q, qv.q) AS BIGINT)
         |          - 2 * CAST(list_dot_product(qv.q, c.q) AS BIGINT)
         |          + CAST(list_dot_product(c.q, c.q) AS BIGINT), c.cid) AS rn
         |    FROM (SELECT vec_id, q FROM q8 WHERE vec_id < 10) qv, cnewc c) z
         |  WHERE rn <= 10
         |),
         |short AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT dd.q_id, dd.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY dd.q_id
         |        ORDER BY dd.dist, dd.vec_id) AS rn
         |    FROM dists dd
         |    JOIN vcell v ON v.vec_id = dd.vec_id
         |    JOIN cprobe p ON p.q_id = dd.q_id AND p.cell = v.cell) z
         |  WHERE rn <= 100
         |),
         |rex AS (
         |  SELECT s.q_id, s.vec_id,
         |    CAST(list_dot_product(x.q, x.q) AS BIGINT)
         |      - 2 * CAST(list_dot_product(x.q, qq.q) AS BIGINT)
         |      + CAST(list_dot_product(qq.q, qq.q) AS BIGINT) AS l2
         |  FROM short s
         |  JOIN q8 x ON x.vec_id = s.vec_id
         |  JOIN q8 qq ON qq.vec_id = s.q_id
         |)
         |SELECT q_id, vec_id, l2, CAST(rn AS INT) AS rank FROM (
         |  SELECT q_id, vec_id, l2,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY l2, vec_id) AS rn
         |  FROM rex) z
         |WHERE rn <= 10""".stripMargin,

    "ss05_quantize_int8" ->
      """WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |        list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |      FROM e)
        |SELECT vec_id, scale,
        |  array_to_string(list_transform(v, x -> CAST(round(x / scale) AS INT)), ',') AS q_str
        |FROM s""".stripMargin)

  // The PQ pipeline's shared CTE chain (ss09/ss10): quantize → subspace
  // split → hash-ordered seeds → one keyed integer Lloyd round → argmin
  // codes → per-(query, vector) ADC distances.
  private lazy val pqCoreSql: String =
    """WITH q8 AS MATERIALIZED (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(round(
      |      CAST(x AS DOUBLE) /
      |        (list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0)
      |    ) AS INT)) AS q
      |  FROM embeddings
      |),
      |ms AS (SELECT unnest(range(32)) AS m),
      |subs AS MATERIALIZED (
      |  SELECT vec_id, m, q[m * 2 + 1 : m * 2 + 2] AS sub
      |  FROM q8, ms
      |),
      |seedv AS (
      |  SELECT vec_id FROM q8
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32
      |),
      |seeds AS (
      |  SELECT s.m, CAST(ROW_NUMBER() OVER (PARTITION BY s.m
      |      ORDER BY md5(CAST(s.vec_id AS VARCHAR)), s.vec_id) - 1 AS INT) AS cid,
      |    s.sub
      |  FROM subs s JOIN seedv USING (vec_id)
      |),
      |a1 AS (
      |  SELECT vec_id, m, sub, cid FROM (
      |    SELECT x.vec_id, x.m, x.sub, s.cid,
      |      ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.m ORDER BY
      |        CAST(list_dot_product(x.sub, x.sub) AS BIGINT)
      |          - 2 * CAST(list_dot_product(x.sub, s.sub) AS BIGINT)
      |          + CAST(list_dot_product(s.sub, s.sub) AS BIGINT), s.cid) AS rn
      |    FROM subs x JOIN seeds s USING (m)) z
      |  WHERE rn = 1
      |),
      |sums AS (
      |  SELECT m, cid, u.i AS pos, CAST(SUM(sub[u.i + 1]) AS BIGINT) AS sm,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM a1, UNNEST(range(0, len(sub))) AS u(i)
      |  GROUP BY m, cid, u.i
      |),
      |newc AS MATERIALIZED (
      |  SELECT m, cid, list(CAST((sm - (sm % n)) // n AS INT) ORDER BY pos) AS cvec
      |  FROM sums GROUP BY m, cid
      |),
      |codes AS MATERIALIZED (
      |  SELECT vec_id, m, cid AS code FROM (
      |    SELECT x.vec_id, x.m, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.m ORDER BY
      |        CAST(list_dot_product(x.sub, x.sub) AS BIGINT)
      |          - 2 * CAST(list_dot_product(x.sub, c.cvec) AS BIGINT)
      |          + CAST(list_dot_product(c.cvec, c.cvec) AS BIGINT), c.cid) AS rn
      |    FROM subs x JOIN newc c USING (m)) z
      |  WHERE rn = 1
      |),
      |qsub AS (SELECT vec_id AS q_id, m, sub AS qs FROM subs WHERE vec_id < 10),
      |dists AS MATERIALIZED (
      |  SELECT q.q_id, c.vec_id,
      |    CAST(SUM(CAST(list_dot_product(q.qs, q.qs) AS BIGINT)
      |      - 2 * CAST(list_dot_product(q.qs, n.cvec) AS BIGINT)
      |      + CAST(list_dot_product(n.cvec, n.cvec) AS BIGINT)) AS BIGINT) AS dist
      |  FROM qsub q
      |  JOIN codes c ON c.m = q.m AND c.vec_id != q.q_id
      |  JOIN newc n ON n.m = c.m AND n.cid = c.code
      |  GROUP BY q.q_id, c.vec_id
      |)""".stripMargin

  // ss02 replayed EXACTLY in SQL: the fixed-seed hyperplanes are plan-time
  // constants, so they embed as double literals (java.lang.Double.toString
  // is the shortest round-trip form; DuckDB's parser is correctly rounded,
  // so both engines see bit-identical planes). Sign bits, 4x4 banding,
  // band-bucket candidates, cosine re-rank — the full LSH pipeline, no
  // approximation left unchecked. The strict `> 0` sign test is safe
  // cross-engine because the dot products themselves are bit-identical
  // (sequential double fold on both sides, validated via ss01).
  private lazy val ss02Sql: String = {
    s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sig AS MATERIALIZED (
       |  SELECT vec_id,
       |    $hyperplaneSigSql AS sig
       |  FROM e
       |),
       |banded AS MATERIALIZED (
       |  SELECT vec_id, b AS band_id, (sig // ([1,16,256,4096])[b+1]) % 16 AS band_val
       |  FROM sig, range(0,4) r(b)
       |),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, x.vec_id AS vec_id
       |  FROM banded x JOIN banded q
       |    ON x.band_id = q.band_id AND x.band_val = q.band_val
       |  WHERE q.vec_id < 10 AND x.vec_id != q.vec_id
       |),
       |scored AS (
       |  SELECT c.q_id, c.vec_id,
       |    list_dot_product(x.v, q.v) /
       |      (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(q.v, q.v))) AS cos
       |  FROM cand c JOIN e x ON c.vec_id = x.vec_id JOIN e q ON c.q_id = q.vec_id
       |)
       |SELECT q_id, vec_id, cos, CAST(rank AS INT) AS rank FROM (
       |  SELECT q_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored) t
       |WHERE rank <= 10""".stripMargin
  }

  private val ss01Sql: String =
      """WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS q_id, x.vec_id,
        |    list_dot_product(x.v, q.v) /
        |      (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(q.v, q.v))) AS cos
        |  FROM e x, e q
        |  WHERE q.vec_id < 10 AND x.vec_id != q.vec_id)
        |SELECT q_id, vec_id, cos, CAST(rank AS INT) AS rank FROM (
        |  SELECT q_id, vec_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 10""".stripMargin
}
