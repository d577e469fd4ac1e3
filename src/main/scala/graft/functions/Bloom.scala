package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType}

/** Bloom-filter membership as an O(bits) broadcastable predicate.
  *
  * The scale problem it solves: a semi-join against a large key set
  * either broadcasts the full key STRINGS (executor memory ∝ set size —
  * the tx09-class OOM pattern) or shuffles the entire probe side. A
  * bloom filter ships a fixed `-log(fpp)·n/ln2²` BITS instead and is
  * applied map-side, before any shuffle, so the probe side shrinks to
  * `|true matches| + fpp·|probe|` rows. Exactness is restored by the
  * caller with a plain equi-join on the survivors (the false positives
  * fall out there) — the same two-step Spark itself uses for runtime
  * row-level join pruning.
  *
  * Both halves speak the same sketch: the builder inserts
  * `putLong(xxhash64(v))` (`DataFrameStatFunctions.bloomFilter` over a
  * LongType column) and the probe is Spark's codegen'd
  * `BloomFilterMightContain`, which calls `mightContainLong` on the
  * deserialized filter — deserialized once per task, not per row.
  */
object Bloom {

  /** Build a bloom filter over `xxhash64(c)` of `df`'s rows. Runs as a
    * distributed tree-aggregate; the driver holds ONE filter of
    * `numBits(expectedItems, fpp)` bits (~1.2 MB at 1M items / 1% fpp),
    * bounded by the parameters, never by the data. */
  def build(df: DataFrame, c: Column, expectedItems: Long,
      fpp: Double): Array[Byte] = {
    val h = df.select(xxhash64(c).as("_h"))
    // zero-row input: DataFrameStatFunctions.bloomFilter yields a
    // filter whose probe NPEs at execution — build the well-defined
    // empty filter instead (every might_contain = false), so an empty
    // benchmark/standing corpus degrades to "nothing matches" rather
    // than killing the query
    val bf =
      if (h.isEmpty) org.apache.spark.util.sketch.BloomFilter
        .create(expectedItems, fpp)
      else h.stat.bloomFilter("_h", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  // One TorrentBroadcast per distinct filter INSTANCE per JVM (round
  // 16): the filter used to ride the plan as a 1.2 MB binary LITERAL,
  // which (a) made every task binary carry the full filter per stage
  // (the bench's "Broadcasting large task binary" warnings), and
  // (b) put a megabyte byte-array inside every Literal
  // equality/canonicalization walk of the plan, per invocation. The
  // caches that hand filters out (dc02's bloomCache, dd11's
  // standingBloomCache) return one stable instance per (session, dir),
  // so identity-keying gives exactly one broadcast per filter.
  //
  // Round 17 (r16 verdict hygiene item): entries are OWNED by the
  // session that created them and evict — broadcast destroyed, strong
  // refs dropped — through the same SessionCaches discipline as the
  // filter caches they key against. Before this the map held every
  // broadcast + 1.2 MB array for the JVM's lifetime: bounded in a
  // bench run (a handful of filters), a leak of one broadcast per
  // filter per session in a long-lived multi-session service.
  private val bcasts = new java.util.IdentityHashMap[Array[Byte],
    (org.apache.spark.sql.SparkSession,
      org.apache.spark.broadcast.Broadcast[Array[Byte]])]()
  graft.SessionCaches.registerEvictor { s =>
    val dead = bcasts.synchronized {
      val it = bcasts.entrySet().iterator()
      val out = scala.collection.mutable.ArrayBuffer[
        org.apache.spark.broadcast.Broadcast[Array[Byte]]]()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue._1 eq s) { out += e.getValue._2; it.remove() }
      }
      out.toSeq
    }
    // destroy outside the lock: it can block on the BlockManager
    dead.foreach(b =>
      try b.destroy() catch { case scala.util.control.NonFatal(_) => () })
  }

  /** Entries currently held for `s` — spec hook for the eviction
    * contract (BloomBcastSpec). */
  private[graft] def bcastCountFor(
      s: org.apache.spark.sql.SparkSession): Int =
    bcasts.synchronized {
      var n = 0
      bcasts.values().forEach(v => if (v._1 eq s) n += 1)
      n
    }

  /** `might_contain(bloom, xxhash64(c))` — evaluates in whole-stage
    * codegen; the serialized filter ships ONCE per executor as a
    * broadcast instead of riding every task binary as a literal. */
  def mightContain(bloom: Array[Byte], c: Column): Column = {
    val sess = org.apache.spark.sql.SparkSession.active
    val b = bcasts.synchronized {
      val cur = bcasts.get(bloom)
      if (cur != null) cur._2
      else {
        val nb = sess.sparkContext.broadcast(bloom)
        bcasts.put(bloom, (sess, nb)); nb
      }
    }
    graft.SessionCaches.track(sess)
    GraftBridge.toColumn(
      BloomMightContainBcast(b, GraftBridge.toExpression(xxhash64(c))))
  }
}

/** [[Bloom.mightContain]]'s predicate: `mightContainLong` over a
  * broadcast-resident serialized filter. Same sketch contract as
  * Spark's BloomFilterMightContain (which this replaces purely for the
  * SHIPPING mechanics): the filter deserializes once per task via the
  * lazy val — never per row — and the bytes live in one broadcast per
  * executor instead of in every task binary. */
case class BloomMightContainBcast(
    bcast: org.apache.spark.broadcast.Broadcast[Array[Byte]],
    child: Expression) extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_might_contain"

  @transient private lazy val filter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bcast.value))

  /** Public for codegen (addReferenceObj call below). */
  def test(v: Long): Boolean = filter.mightContainLong(v)

  override protected def nullSafeEval(v: Any): Any =
    test(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomPred", this)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.test($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
