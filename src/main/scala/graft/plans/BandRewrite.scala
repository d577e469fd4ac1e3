package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Add, Alias, And, Attribute,
  AttributeReference, AttributeSet, EqualTo, Explode, Expression,
  GreaterThanOrEqual, IntegralDivide, IsNotNull, IsNull, LessThanOrEqual,
  Literal, Pmod, Sequence, Subtract}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join,
  LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Classification of a join condition into the band-join shape:
  * cross-side key equalities + a two-sided time band
  * `rt ∈ [lt + lowUs, lt + highUs]`, with any remaining single-side
  * conjuncts split per side. Shared by the `BAND JOIN` SQL lowering
  * and the [[BandJoinAutoRewrite]] optimizer rule. */
object BandConds {

  final case class Parts(
      lKeys: Seq[Attribute], rKeys: Seq[Attribute],
      lTime: Attribute, rTime: Attribute,
      lowUs: Long, highUs: Long,
      probeOnly: Seq[Expression], buildOnly: Seq[Expression])

  /** A foldable integral expression's value — covers raw literals,
    * post-coercion `Cast(Literal)`, and constant arithmetic like
    * `30 * 60 * 1000000`. */
  private def constOf(e: Expression): Option[Long] = e match {
    case e if e.foldable && e.deterministic &&
        (e.dataType == IntegerType || e.dataType == LongType) =>
      e.eval(null) match {
        case i: java.lang.Integer => Some(i.longValue)
        case l: java.lang.Long => Some(l.longValue)
        case _ => None
      }
    case _ => None
  }

  /** `e` as `attr + offset-micros`: a bare attribute, BIGINT
    * `attr ± const` / `const + attr`, or timestamp
    * `attr ± INTERVAL` — `TimestampAddInterval` with a DAY-TIME
    * interval literal is exact micro addition for both TIMESTAMP and
    * TIMESTAMP_NTZ (year-month intervals are variable-length and are
    * deliberately NOT matched). The raw `Add`/`Subtract` forms with a
    * day-time interval literal are matched too: the SQL-clause path
    * classifies the ON condition BEFORE `ResolveBinaryArithmetic`
    * rewrites datetime arithmetic (the condition lives inside graft's
    * unresolved node, which only [[ResolveAsofJoin]] touches), so
    * `attr - INTERVAL '30' MINUTE` still reads `Subtract(attr,
    * Literal(micros, DayTimeIntervalType))` there — the literal's
    * Long payload IS micros, same as the post-analysis form. */
  private def decompose(e: Expression): Option[(Attribute, Long)] = e match {
    case a: Attribute => Some((a, 0L))
    case Add(a: Attribute,
        Literal(v: Long, _: org.apache.spark.sql.types.DayTimeIntervalType), _) =>
      Some((a, v))
    case Add(Literal(v: Long, _: org.apache.spark.sql.types.DayTimeIntervalType),
        a: Attribute, _) =>
      Some((a, v))
    case Subtract(a: Attribute,
        Literal(v: Long, _: org.apache.spark.sql.types.DayTimeIntervalType), _) =>
      Some((a, -v))
    case Add(a: Attribute, c, _) => constOf(c).map(v => (a, v))
    case Add(c, a: Attribute, _) => constOf(c).map(v => (a, v))
    case Subtract(a: Attribute, c, _) => constOf(c).map(v => (a, -v))
    // the interval operand may be a literal OR a foldable wrapper (the
    // analyzer's DatetimeSub replacement is TimestampAddInterval(a,
    // UnaryMinus(lit)) — see normalizeTimeArith): fold and read micros
    case org.apache.spark.sql.catalyst.expressions.TimestampAddInterval(
        a: Attribute, iv, _)
        if iv.foldable && iv.deterministic &&
          iv.dataType.isInstanceOf[org.apache.spark.sql.types.DayTimeIntervalType] =>
      iv.eval(null) match {
        case l: java.lang.Long => Some((a, l.longValue))
        case _ => None
      }
    case _ => None
  }

  /** Normalize an analyzed ON condition for [[classify]]: inline
    * `RuntimeReplaceable` replacements (`ResolveBinaryArithmetic`
    * rewrites `ts - INTERVAL` to `Cast(DatetimeSub(...))` when
    * `ResolveReferences` resolves the clause's attributes before
    * [[ResolveAsofJoin]] consumes the node — both live in the same
    * fixed-point batch) and drop the identity casts that rewrite
    * leaves behind. Raw parse-time forms (`Subtract(attr,
    * interval-literal)`) pass through untouched — decompose matches
    * them directly. */
  private[plans] def normalizeTimeArith(e: Expression): Expression =
    e.transformUp {
      case r: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable =>
        r.replacement
      // identity casts only; the child may read as unresolved (a
      // replacement TimestampAddInterval has no timeZoneId yet), so
      // probe dataType defensively rather than requiring resolved
      case c: org.apache.spark.sql.catalyst.expressions.Cast
          if (try c.child.dataType == c.dataType
          catch { case scala.util.control.NonFatal(_) => false }) => c.child
    }

  /** Classify `conjuncts` against probe (`leftOut`) / build
    * (`rightOut`) outputs. None when any cross-side conjunct falls
    * outside the key-equality + two-band-bounds grammar, when a bound
    * repeats, or when the two bounds name different attribute pairs. */
  def classify(conjuncts: Seq[Expression], leftOut: AttributeSet,
      rightOut: AttributeSet): Option[Parts] = {
    var lKeys = Vector.empty[Attribute]
    var rKeys = Vector.empty[Attribute]
    // (lt, rt, bound)
    var lower: Option[(Attribute, Attribute, Long)] = None
    var upper: Option[(Attribute, Attribute, Long)] = None
    var probeOnly = Vector.empty[Expression]
    var buildOnly = Vector.empty[Expression]
    var ok = true

    def sideOf(a: Attribute): Int =
      if (leftOut.contains(a)) 0 else if (rightOut.contains(a)) 1 else -1

    // X >= Y, cross-side
    def addBound(x: Expression, y: Expression): Unit =
      (decompose(x), decompose(y)) match {
        case (Some((ax, cx)), Some((ay, cy))) =>
          (sideOf(ax), sideOf(ay)) match {
            case (1, 0) => // rt + cx >= lt + cy  →  rt − lt >= cy − cx
              if (lower.isEmpty) lower = Some((ay, ax, cy - cx)) else ok = false
            case (0, 1) => // lt + cx >= rt + cy  →  rt − lt <= cx − cy
              if (upper.isEmpty) upper = Some((ax, ay, cx - cy)) else ok = false
            case _ => ok = false
          }
        case _ => ok = false
      }

    conjuncts.foreach {
      case e if !ok => ()
      case e if e.references.subsetOf(leftOut) => probeOnly :+= e
      case e if e.references.subsetOf(rightOut) => buildOnly :+= e
      case EqualTo(a: Attribute, b: Attribute) =>
        (sideOf(a), sideOf(b)) match {
          case (0, 1) => lKeys :+= a; rKeys :+= b
          case (1, 0) => lKeys :+= b; rKeys :+= a
          case _ => ok = false
        }
      case GreaterThanOrEqual(x, y) => addBound(x, y)
      case LessThanOrEqual(x, y) => addBound(y, x)
      case _ => ok = false
    }

    (lower, upper) match {
      case (Some((lt1, rt1, lo)), Some((lt2, rt2, hi)))
          if ok && lt1.exprId == lt2.exprId && rt1.exprId == rt2.exprId &&
            lo <= hi &&
            lt1.dataType == rt1.dataType &&
            TimeJoin.timeTypeOk(lt1.dataType) =>
        // keys may be EMPTY — the keyless range-join shape; callers
        // dispatch to lowerBandKeyless (bucketized) for that case
        Some(Parts(lKeys, rKeys, lt1, rt1, lo, hi, probeOnly, buildOnly))
      case _ => None
    }
  }

  /** SQL-semantics null hygiene around a probe/build operator plan
    * (shared by the band lowering and the ASOF SQL clause — the raw
    * operators' natural key ordering would group null keys together
    * and read a null time as 0, where a stock SQL join matches
    * neither): build rows with a null key or time are filtered (they
    * can never match anything); null-time probes are filtered for the
    * inner variant or routed AROUND the operator null-extended (a
    * Union branch) for the left-outer one. `mk(probe, build)` must
    * produce a plan whose output is `left.output ++
    * right.output.map(nullable)` — both custom joins do. */
  def withNullHygiene(left: LogicalPlan, right: LogicalPlan,
      rKeys: Seq[Attribute], rTime: Attribute, lTime: Attribute,
      keepUnmatched: Boolean)(
      mk: (LogicalPlan, LogicalPlan) => LogicalPlan): LogicalPlan = {
    val rNotNull = (rKeys :+ rTime).distinct.map(IsNotNull(_): Expression)
      .reduce(And(_, _))
    val build = Filter(rNotNull, right)
    def rtOut(p: LogicalPlan): Attribute =
      p.output(left.output.size +
        right.output.indexWhere(_.exprId == rTime.exprId))

    if (!keepUnmatched) {
      val probe =
        if (lTime.nullable) Filter(IsNotNull(lTime), left) else left
      val p = mk(probe, build)
      Filter(IsNotNull(rtOut(p)), p)
    } else if (!lTime.nullable) {
      mk(left, build)
    } else {
      // null-time probes can never match; emit them null-extended
      // around the operator, exactly as a LEFT JOIN's condition-null
      // rows are
      val matched = mk(Filter(IsNotNull(lTime), left), build)
      val unmatched = Project(
        left.output ++ right.output.map(a =>
          Alias(Literal(null, a.dataType), a.name)()),
        Filter(IsNull(lTime), left))
      Union(Seq(matched, unmatched))
    }
  }

  /** Lower a classified band join to a band [[TimeJoinPlan]] with the null
    * hygiene above. `probeOnly`/`buildOnly` extras are the caller's
    * to apply — they are semantically different per join type. */
  def lowerBand(left: LogicalPlan, right: LogicalPlan, p: Parts,
      hint: String, keepUnmatched: Boolean): LogicalPlan = {
    // streaming build: see lowerBandKeyless — a per-microbatch join
    // sees only that batch's build rows, silently losing cross-batch
    // matches. Streaming PROBE: stream-static enrichment — steerHint
    // defaults it to broadcast so the unbounded side never shuffles.
    require(!right.isStreaming,
      "band build side must be static (stream-static enrichment only; " +
        "stream-stream bands need watermarked state)")
    val physHint = TimeJoinPlan.steerHint(left.isStreaming, hint)
    withNullHygiene(left, right, p.rKeys, p.rTime, p.lTime, keepUnmatched)(
      (probe, build) => TimeJoinPlan(probe, build,
        p.lKeys, p.rKeys, p.lTime, p.rTime, Band(p.lowUs, p.highUs), physHint))
  }

  /** Exact floor division `e div w` for LongType `e` and positive `w` —
    * `(e − pmod(e, w)) div w`. IntegralDivide alone truncates toward
    * zero, which misbuckets negative times; subtracting the
    * non-negative pmod first makes the numerator an exact multiple. */
  private def floorDiv(e: Expression, w: Long): Expression =
    IntegralDivide(Subtract(e, Pmod(e, Literal(w))), Literal(w))

  /** The time attribute's PHYSICAL micros as a LongType expression —
    * the exact value the band exec merges on. BIGINT passes through;
    * TIMESTAMP extracts via UnixMicros (no zone math — the physical
    * encoding IS micros since epoch); TIMESTAMP_NTZ pins the cast to
    * UTC, under which wall-clock micros map to themselves, so the
    * extraction is deterministic and zone-independent. Shared with the
    * keyless ASOF SQL lowering's shadow-column projection. */
  private[plans] def microsOf(a: Attribute): Expression = a.dataType match {
    case LongType => a
    case _: org.apache.spark.sql.types.TimestampType =>
      org.apache.spark.sql.catalyst.expressions.UnixMicros(a)
    case _: org.apache.spark.sql.types.TimestampNTZType =>
      org.apache.spark.sql.catalyst.expressions.UnixMicros(
        org.apache.spark.sql.catalyst.expressions.Cast(
          a, org.apache.spark.sql.types.TimestampType, Some("UTC")))
    case t => throw new IllegalArgumentException(
      s"keyless band: unsupported time type $t")
  }

  /** Lower a KEYLESS band join — the global range-correlation shape
    * (`ON r.t BETWEEN l.t + lo AND l.t + hi`, no equi-key) — by RANGE
    * BUCKETIZATION, the IEJoin-style partitioning re-expressed through
    * the existing keyed operator:
    *
    *  - bucket width `w = max(hi − lo, 1)` micros;
    *  - each probe gets ONE bucket, `floor(lt / w)`;
    *  - each build row replicates to the buckets it could match into,
    *    `floor((rt − hi) / w) .. floor((rt − lo) / w)` — at most
    *    `(hi − lo)/w + 2 ≤ 3` copies, so build inflation is bounded by
    *    a small constant;
    *  - the keyed band [[TimeJoinPlan]] then runs with the bucket as its
    *    equi-key: a matching pair `rt ∈ [lt+lo, lt+hi]` co-buckets in
    *    exactly the probe's bucket (monotone floors bound the probe's
    *    bucket between the build row's replication endpoints), and the
    *    band merge re-checks the exact bounds inside the bucket, so
    *    results are EXACTLY the stock join's — no dedup needed, each
    *    pair meets once.
    *
    * Scale shape: both sides shuffle on bucket (time-range partitioned
    * in effect), parallelism = the corpus's time extent over the band
    * width, per-partition state = the band occupancy — O(input +
    * output) where the stock plan is a nested-loop cartesian. Null
    * build times drop at the hygiene filter; null-time probes route
    * around (left) or drop (inner), same as the keyed lowering.
    * Times: BIGINT micros or either timestamp type — the bucket
    * arithmetic runs on [[microsOf]]'s exact physical-micros
    * extraction, the same longs the band exec merges on. */
  def lowerBandKeyless(left: LogicalPlan, right: LogicalPlan, p: Parts,
      hint: String, keepUnmatched: Boolean): LogicalPlan = {
    require(p.lKeys.isEmpty && p.rKeys.isEmpty,
      "lowerBandKeyless is the keyless lowering; use lowerBand with keys")
    // STREAM-STATIC: a streaming PROBE works — the bucket projection is
    // stateless, the build explode runs on the static side, and the
    // in-bucket keyed band switches to the BROADCAST operator so each
    // microbatch probes the shipped build statelessly (the probe never
    // shuffles). A streaming BUILD is refused: a per-microbatch join
    // would only ever see that batch's build rows, silently dropping
    // every cross-batch match (the stream-stream band lives in
    // EventsStream.bandCount's watermarked state instead).
    require(!right.isStreaming,
      "keyless band build side must be static (stream-static " +
        "enrichment only; stream-stream bands need watermarked state)")
    val physHint = TimeJoinPlan.steerHint(left.isStreaming, hint)
    val w = math.max(p.highUs - p.lowUs, 1L)
    withNullHygiene(left, right, Nil, p.rTime, p.lTime, keepUnmatched) {
      (probe, build) =>
        val lbAlias = Alias(floorDiv(microsOf(p.lTime), w), "__graft_bucket_l")()
        val probe2 = Project(probe.output :+ lbAlias, probe)
        val lb = lbAlias.toAttribute
        // timeZoneId set explicitly: Sequence is TimeZoneAwareExpression
        // and stays UNRESOLVED without one — the analyzer's
        // ResolveTimeZone fills it on the SQL-clause path, but the
        // optimizer-rule path runs after analysis
        val gen = Explode(Sequence(
          floorDiv(Subtract(microsOf(p.rTime), Literal(p.highUs)), w),
          floorDiv(Subtract(microsOf(p.rTime), Literal(p.lowUs)), w), None,
          Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)))
        val rb = AttributeReference("__graft_bucket_r", LongType,
          nullable = gen.elementSchema.head.nullable)()
        val build2 = Generate(gen, Nil, outer = false, None, Seq(rb), build)
        val band = TimeJoinPlan(probe2, build2, Seq(lb), Seq(rb),
          p.lTime, p.rTime, Band(p.lowUs, p.highUs), physHint)
        Project(band.output.filterNot(a =>
          a.exprId == lb.exprId || a.exprId == rb.exprId), band)
    }
  }
}

/** Plain-SQL (or DataFrame-API) interval joins silently get the native
  * band operator: an inner/left-outer equi-join whose residual is a
  * two-sided time band `r.t ∈ [l.t + lo, l.t + hi]` (LongType, the
  * `BETWEEN`-arithmetic shape) is rewritten to a band [[TimeJoinPlan]] — the
  * sliding-band merge that is O(input + output) where the stock plan
  * materializes every per-key candidate pair and filters after. This
  * is how engines with native range joins (DuckDB's IEJoin) treat the
  * same text: the user writes standard SQL, the planner picks the
  * operator. Disable with `spark.graft.band.autoRewrite=false`.
  *
  * The rewrite is exact, not best-effort: single-side extras move to
  * the legal side (both sides for inner; build side only for
  * left-outer — a probe-side conjunct in a left join's ON is NOT a
  * filter), null keys/times get the [[BandConds.lowerBand]] hygiene,
  * and anything outside the recognized grammar (other join types,
  * streaming sides, null-safe equality, a third inequality) leaves the
  * plan untouched. KEYLESS range joins (no equi-key at all — global
  * time-window correlation) are claimed too, via
  * [[BandConds.lowerBandKeyless]]'s range bucketization — the
  * IEJoin-style time partitioning, NOT a synthesized constant key
  * (which would serialize one partition). Works for BIGINT micros and
  * both timestamp types (the bucket arithmetic runs on the exact
  * physical-micros extraction the band exec itself merges on). */
object BandJoinAutoRewrite extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.band.autoRewrite"

  private def enabled: Boolean =
    conf.getConfString(ConfKey, "true").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformUp {
      case j @ Join(l, r, jt, Some(cond), hint)
          if (jt == Inner || jt == LeftOuter) &&
            !l.isStreaming && !r.isStreaming =>
        BandConds.classify(AsofSqlRewrite.conjunctsOf(cond),
            l.outputSet, r.outputSet) match {
          case Some(p) if jt == Inner || p.probeOnly.isEmpty =>
            val probe = if (p.probeOnly.nonEmpty)
              Filter(p.probeOnly.reduce(And(_, _)), l) else l
            val build = if (p.buildOnly.nonEmpty)
              Filter(p.buildOnly.reduce(And(_, _)), r) else r
            val physHint =
              if (hint.rightHint.flatMap(_.strategy).contains(
                  org.apache.spark.sql.catalyst.plans.logical.BROADCAST))
                "broadcast" else "auto"
            if (p.lKeys.nonEmpty)
              BandConds.lowerBand(probe, build, p, physHint,
                keepUnmatched = jt == LeftOuter)
            else
              BandConds.lowerBandKeyless(probe, build, p, physHint,
                keepUnmatched = jt == LeftOuter)
          case _ => j
        }

      // RIGHT OUTER: the band operator preserves its PROBE side, so a
      // right-outer band is the left-outer lowering with the sides
      // swapped — classify from the swapped perspective (the band
      // condition is symmetric: rt ∈ [lt+lo, lt+hi] ⟺
      // lt ∈ [rt−hi, rt−lo], and classify re-derives the bounds), then
      // a Project restores the original l ++ r column order. Same
      // legality rule as LeftOuter, mirrored: conjuncts on the
      // PRESERVED (right) side are not filters, so their presence
      // leaves the plan unclaimed; build-only (left) conjuncts push.
      case j @ Join(l, r, RightOuter, Some(cond), hint)
          if !l.isStreaming && !r.isStreaming =>
        BandConds.classify(AsofSqlRewrite.conjunctsOf(cond),
            r.outputSet, l.outputSet) match {
          case Some(p) if p.probeOnly.isEmpty =>
            val build = if (p.buildOnly.nonEmpty)
              Filter(p.buildOnly.reduce(And(_, _)), l) else l
            // the build side is the original LEFT, so the user's
            // broadcast hint for it is the leftHint
            val physHint =
              if (hint.leftHint.flatMap(_.strategy).contains(
                  org.apache.spark.sql.catalyst.plans.logical.BROADCAST))
                "broadcast" else "auto"
            val lowered =
              if (p.lKeys.nonEmpty)
                BandConds.lowerBand(r, build, p, physHint,
                  keepUnmatched = true)
              else
                BandConds.lowerBandKeyless(r, build, p, physHint,
                  keepUnmatched = true)
            Project(j.output, lowered)
          case _ => j
        }
    }
}
