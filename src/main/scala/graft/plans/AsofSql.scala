package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute,
  EqualTo, Expression, GreaterThanOrEqual, IsNotNull, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute,
  UnresolvedFunction}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, Join,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.DataFrame

/** `ASOF JOIN` SQL syntax for the as-of operator family — the
  * `injectParser` tier that makes [[TimeJoinPlan]] reachable from pure
  * SQL, completing the extension surface (DuckDB, the oracle engine,
  * has the clause natively):
  *
  * {{{
  *   SELECT ... FROM probe p
  *   ASOF [LEFT] [MERGE|BROADCAST] JOIN build b
  *     ON p.key = b.key AND p.t >= b.t [TOLERANCE <micros>]
  * }}}
  *
  *  - `p.t >= b.t` selects the backward direction (latest build row
  *    at-or-before the probe), `p.t <= b.t` forward; either operand
  *    order is accepted and normalized.
  *  - `MERGE`/`BROADCAST` force the physical operator; unadorned
  *    `ASOF JOIN` uses the statistics-based auto choice.
  *  - `TOLERANCE n` (micros, literal) nulls out matches farther than
  *    n from the probe time.
  *  - `ASOF JOIN` alone is the DuckDB inner variant (unmatched probes
  *    dropped); `ASOF LEFT JOIN` keeps them with null build columns.
  *  - Key/time operands must be bare columns; time columns BIGINT
  *    micros or either timestamp type (physically long micros — see
  *    [[TimeJoin.timeTypeOk]]).
  *  - The text rewrite is quote-aware: `ASOF JOIN`, `BAND JOIN`, and
  *    `TOLERANCE n` token sequences inside string literals or
  *    backquoted identifiers are never touched (the same quote scan
  *    the ON locator uses), so literals survive the rewrite verbatim.
  *
  * Mechanics — the standard delegating-parser arrangement: the clause
  * is rewritten to a stock `LEFT JOIN` whose ON condition leads with a
  * `graft_asof('<hint>','<left|inner>')` marker (plus
  * `graft_asof_tol(n)` folded in from a TOLERANCE suffix), the
  * delegate parses the rewritten text, and the marked [[Join]] is
  * immediately rewrapped as [[UnresolvedAsofJoin]]. Attribute SIDES
  * are unknowable at parse time, so [[ResolveAsofJoin]] (an injected
  * resolution rule) finishes the lowering once both children are
  * resolved: it resolves the condition against the child outputs,
  * classifies conjuncts into equi-keys and the single time
  * inequality, and emits [[TimeJoinPlan]] (wrapped in a null-filter
  * for the inner variant).
  */
class AsofSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    if (AsofSqlRewrite.applicable(sqlText)) {
      val plan = delegate.parsePlan(AsofSqlRewrite.rewrite(sqlText))
      plan.transformUp {
        case j @ Join(l, r, LeftOuter, Some(cond), _)
            if AsofSqlRewrite.marked(cond) =>
          AsofSqlRewrite.toUnresolved(l, r, cond)
        case j @ Join(l, r, LeftOuter, Some(cond), _)
            if AsofSqlRewrite.markedBand(cond) =>
          AsofSqlRewrite.toUnresolvedBand(l, r, cond)
      }
    } else delegate.parsePlan(sqlText)

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String)
      : org.apache.spark.sql.catalyst.TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String)
      : org.apache.spark.sql.catalyst.FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String)
      : org.apache.spark.sql.types.StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String)
      : org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    parsePlan(sqlText)
  override def parseRoutineParam(sqlText: String)
      : org.apache.spark.sql.types.StructType =
    delegate.parseRoutineParam(sqlText)
}

object AsofSqlRewrite {
  private val Marker = "graft_asof"
  private val BandMarker = "graft_band"
  private val TolMarker = "graft_asof_tol"
  private val AsofRe =
    "(?i)\\bASOF\\s+(LEFT\\s+)?((?:MERGE|BROADCAST)\\s+)?JOIN\\b".r
  private val BandRe =
    "(?i)\\bBAND\\s+(LEFT\\s+)?((?:MERGE|BROADCAST)\\s+)?JOIN\\b".r
  private val TolRe = "(?i)\\bTOLERANCE\\s+(\\d+)\\b".r

  def applicable(sql: String): Boolean = {
    lazy val mask = quotedMask(sql)
    (AsofRe.findAllMatchIn(sql) ++ BandRe.findAllMatchIn(sql))
      .exists(m => !mask(m.start))
  }

  /** Per-character "inside a quoted region" mask — '…', "…", `…` —
    * consulted by the rewrite so join keywords and TOLERANCE inside
    * literals are never rewritten. Backslash escapes inside ' and "
    * literals are honored exactly when the session says they are escapes
    * (Spark's default escapedStringLiterals=false allows '\'' — treating
    * the escaped quote as a close would desynchronize the mask for the
    * rest of the text; with escapedStringLiterals=true a backslash is a
    * literal character, so honoring it would desynchronize the other
    * way: a literal ending in \ would swallow the closing quote);
    * backquoted identifiers have no backslash escapes either way. */
  private def backslashEscapes: Boolean =
    !org.apache.spark.sql.internal.SQLConf.get.escapedStringLiterals

  private def quotedMask(sql: String): Array[Boolean] = {
    val esc = backslashEscapes
    val mask = new Array[Boolean](sql.length)
    var quote: Char = 0
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (quote != 0) {
        mask(i) = true
        if (esc && c == '\\' && quote != '`' && i + 1 < sql.length) {
          mask(i + 1) = true
          i += 1
        } else if (c == quote) quote = 0
      }
      else if (c == '\'' || c == '"' || c == '`') { quote = c; mask(i) = true }
      i += 1
    }
    mask
  }

  /** Index just past the `ON` keyword that belongs to the join clause
    * starting at `from` — the first `ON` token at parenthesis depth 0
    * outside quotes (subqueries between JOIN and ON may contain their
    * own ON at depth > 0). */
  private def onEnd(sql: String, from: Int): Int = {
    val esc = backslashEscapes
    var i = from
    var depth = 0
    var quote: Char = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (quote != 0) {
        if (esc && c == '\\' && quote != '`' && i + 1 < sql.length) i += 1
        else if (c == quote) quote = 0
      }
      else c match {
        case '\'' | '"' | '`' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1
        case 'o' | 'O' if depth == 0 && i + 2 <= sql.length &&
            (sql.charAt(i + 1) == 'n' || sql.charAt(i + 1) == 'N') &&
            (i == 0 || !Character.isLetterOrDigit(sql.charAt(i - 1))) &&
            (i + 2 == sql.length ||
              !Character.isLetterOrDigit(sql.charAt(i + 2))) =>
          return i + 2
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException(
      s"ASOF JOIN clause has no ON condition: ...${sql.substring(from).take(80)}")
  }

  /** Rewrite every ASOF join clause to a stock LEFT JOIN whose ON
    * condition leads with the marker function; fold `TOLERANCE n`
    * suffixes into `AND graft_asof_tol(n)` conjuncts first. */
  def rewrite(sql: String): String = {
    val mask0 = quotedMask(sql)
    val tolB = new StringBuilder
    var tp = 0
    TolRe.findAllMatchIn(sql).foreach { m =>
      if (!mask0(m.start)) {
        tolB.append(sql.substring(tp, m.start))
        tolB.append(s"AND $TolMarker(${m.group(1)})")
        tp = m.end
      }
    }
    tolB.append(sql.substring(tp))
    val tol = tolB.toString
    val mask = quotedMask(tol)
    val matches =
      (AsofRe.findAllMatchIn(tol).map(m => (m, Marker)) ++
        BandRe.findAllMatchIn(tol).map(m => (m, BandMarker)))
        .toSeq.filter { case (m, _) => !mask(m.start) }.sortBy(_._1.start)
    val out = new StringBuilder
    var pos = 0
    matches.foreach { case (m, marker) =>
      if (m.start >= pos) {
        out.append(tol.substring(pos, m.start))
        val outer = if (m.group(1) != null) "left" else "inner"
        val hint = Option(m.group(2)).map(_.trim.toLowerCase)
          .getOrElse("auto")
        val on = onEnd(tol, m.end)
        out.append("LEFT JOIN").append(tol.substring(m.end, on))
        out.append(s" $marker('$hint', '$outer') AND ")
        pos = on
      }
    }
    out.append(tol.substring(pos))
    out.toString
  }

  private[plans] def conjunctsOf(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjunctsOf(a) ++ conjunctsOf(b)
    case other => Seq(other)
  }
  private def conjuncts(e: Expression): Seq[Expression] = conjunctsOf(e)

  def marked(cond: Expression): Boolean = cond.exists {
    case f: UnresolvedFunction => f.nameParts == Seq(Marker)
    case _ => false
  }

  def markedBand(cond: Expression): Boolean = cond.exists {
    case f: UnresolvedFunction => f.nameParts == Seq(BandMarker)
    case _ => false
  }

  def toUnresolvedBand(l: LogicalPlan, r: LogicalPlan,
      cond: Expression): UnresolvedBandJoin = {
    var hint = "auto"
    var outer = "left"
    val rest = conjuncts(cond).filter {
      case f: UnresolvedFunction if f.nameParts == Seq(BandMarker) =>
        hint = f.arguments(0).asInstanceOf[Literal].value.toString
        outer = f.arguments(1).asInstanceOf[Literal].value.toString
        false
      case f: UnresolvedFunction if f.nameParts == Seq(TolMarker) =>
        throw new IllegalArgumentException(
          "BAND JOIN does not take TOLERANCE — the band bounds carry it")
      case _ => true
    }
    require(rest.nonEmpty, "BAND JOIN needs an ON condition with " +
      "key equalities and a two-sided time band")
    UnresolvedBandJoin(l, r, rest.reduce(And(_, _)), hint, outer == "left")
  }

  def toUnresolved(l: LogicalPlan, r: LogicalPlan,
      cond: Expression): UnresolvedAsofJoin = {
    var hint = "auto"
    var outer = "left"
    var tolUs = -1L
    val rest = conjuncts(cond).filter {
      case f: UnresolvedFunction if f.nameParts == Seq(Marker) =>
        hint = f.arguments(0).asInstanceOf[Literal].value.toString
        outer = f.arguments(1).asInstanceOf[Literal].value.toString
        false
      case f: UnresolvedFunction if f.nameParts == Seq(TolMarker) =>
        tolUs = f.arguments(0).asInstanceOf[Literal].value.toString.toLong
        false
      case _ => true
    }
    require(rest.nonEmpty, "ASOF JOIN needs an ON condition with " +
      "key equalities and a time inequality")
    UnresolvedAsofJoin(l, r,
      rest.reduce(And(_, _)), hint, outer == "left", tolUs)
  }
}

/** Placeholder between parse and resolution: children may be anything,
  * the condition is unresolved, sides are unknown. Never survives
  * analysis — [[ResolveAsofJoin]] replaces it or errors. */
case class UnresolvedAsofJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    condition: Expression,
    hint: String,
    keepUnmatched: Boolean,
    toleranceUs: Long) extends BinaryNode {

  override lazy val resolved: Boolean = false
  override def output: Seq[Attribute] =
    if (childrenResolved)
      left.output ++ right.output.map(_.withNullability(true))
    else Nil

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): UnresolvedAsofJoin =
    copy(left = newLeft, right = newRight)
}

/** [[UnresolvedBandJoin]]'s twin placeholder for the `BAND JOIN`
  * clause; lowered by [[ResolveAsofJoin]] via [[BandConds]]. */
case class UnresolvedBandJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    condition: Expression,
    hint: String,
    keepUnmatched: Boolean) extends BinaryNode {

  override lazy val resolved: Boolean = false
  override def output: Seq[Attribute] =
    if (childrenResolved)
      left.output ++ right.output.map(_.withNullability(true))
    else Nil

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): UnresolvedBandJoin =
    copy(left = newLeft, right = newRight)
}

/** Lowers [[UnresolvedAsofJoin]] to an as-of [[TimeJoinPlan]] once both
  * children are resolved: resolves the ON attributes against the child
  * outputs, classifies each conjunct as a cross-side key equality or
  * THE time inequality (>= backward, <= forward, either operand
  * order), and emits the plan — filtered on a non-null build time for
  * the inner variant. [[UnresolvedBandJoin]] takes the same treatment
  * through [[BandConds.classify]] (key equalities + exactly two band
  * bounds, `attr ± const` operands) and [[BandConds.lowerBand]]'s
  * null hygiene. */
object ResolveAsofJoin extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case u: UnresolvedBandJoin if u.childrenResolved =>
      val resolver = conf.resolver
      val cond = u.condition.transformUp {
        case ua: UnresolvedAttribute =>
          u.left.resolve(ua.nameParts, resolver)
            .orElse(u.right.resolve(ua.nameParts, resolver))
            .getOrElse(throw new IllegalArgumentException(
              s"BAND JOIN: cannot resolve '${ua.name}' against either side"))
        // BETWEEN reaches this rule pre-expansion — as the parser's
        // unresolved `between` call or the RuntimeReplaceable Between —
        // and classify wants the two plain bounds
        case f: UnresolvedFunction
            if f.nameParts.map(_.toLowerCase) == Seq("between") &&
              f.arguments.size == 3 =>
          And(GreaterThanOrEqual(f.arguments(0), f.arguments(1)),
            LessThanOrEqual(f.arguments(0), f.arguments(2)))
        case b: org.apache.spark.sql.catalyst.expressions.Between =>
          b.replacement
      }
      if (u.left.isStreaming && u.right.isStreaming) {
        // STREAM-STREAM band. The ON clause gets the SAME structural
        // validation as the batch path (the round-15 raw fall-through
        // silently accepted single-side conjuncts that batch rejects,
        // and under LEFT OUTER a single-side conjunct in ON means
        // something different from WHERE). Dispatch:
        //  - keyed, in-grammar → Spark's native stream-stream
        //    time-interval join IS the operator (its state manager
        //    derives both sides' eviction watermarks from the
        //    time-range condition and enforces the watermark
        //    requirements with its own diagnostics); the hint is
        //    ignored — streaming has exactly one physical join.
        //  - KEYLESS, in-grammar → lowered to
        //    [[graft.streaming.StreamAsof.bandAppendKeyless]]: the
        //    band bounds extracted from the INTERVAL (timestamp) or
        //    integer-literal (BIGINT micros) arithmetic become the
        //    bucket manufacture's lowUs/highUs — Spark alone refuses
        //    any stream-stream join without an equality predicate.
        //  - keyless, out-of-grammar → loud graft error naming the
        //    supported shape and the Scala API (previously Spark's
        //    opaque no-equality-predicate refusal).
        //  - keyed, out-of-grammar → the native join unchanged: that
        //    text is a generic streaming join spelled BAND JOIN, and
        //    Spark's own support checks apply to it.
        def nativeJoin = Join(u.left, u.right,
          if (u.keepUnmatched) LeftOuter
          else org.apache.spark.sql.catalyst.plans.Inner,
          Some(cond),
          org.apache.spark.sql.catalyst.plans.logical.JoinHint.NONE)
        val conjs =
          AsofSqlRewrite.conjunctsOf(BandConds.normalizeTimeArith(cond))
        val hasCrossEq = conjs.exists {
          case e: EqualTo =>
            e.references.exists(u.left.outputSet.contains) &&
              e.references.exists(u.right.outputSet.contains)
          case _ => false
        }
        BandConds.classify(conjs, u.left.outputSet, u.right.outputSet) match {
          case Some(p) =>
            require(p.probeOnly.isEmpty && p.buildOnly.isEmpty,
              "BAND JOIN: single-side conjuncts are not allowed in ON — " +
                "move them to WHERE or a subquery")
            if (p.lKeys.nonEmpty) nativeJoin
            else composeOver(u.left, u.right, "ssb", p.rTime, u.keepUnmatched) {
              (l, r, lName, rName) =>
                graft.streaming.StreamAsof.bandAppendKeyless(l, r,
                  lName(p.lTime), rName(p.rTime), p.lowUs, p.highUs)
            }
          case None if !hasCrossEq =>
            throw new IllegalArgumentException(
              "keyless stream-stream BAND JOIN: the ON clause must be a " +
                "two-sided time band over one time column per side — " +
                "build.t BETWEEN probe.t + lo AND probe.t + hi, with " +
                "INTERVAL-literal (timestamp) or integer-literal (BIGINT " +
                "micros) offsets — so the band width can manufacture the " +
                s"equality key Spark's stream-stream join needs; got: $cond. " +
                "For shapes outside the SQL grammar use the Scala API " +
                "graft.streaming.StreamAsof.bandAppendKeyless.")
          case None => nativeJoin
        }
      } else {
        val parts = BandConds.classify(
            AsofSqlRewrite.conjunctsOf(BandConds.normalizeTimeArith(cond)),
            u.left.outputSet, u.right.outputSet)
          .getOrElse(throw new IllegalArgumentException(
            "BAND JOIN: ON must be cross-side key equalities (or none — " +
              "the keyless range shape) plus a two-sided BIGINT time band " +
              "(r.t BETWEEN l.t + lo AND l.t + hi, attr ± integer-literal " +
              s"operands); got: $cond"))
        require(parts.probeOnly.isEmpty && parts.buildOnly.isEmpty,
          "BAND JOIN: single-side conjuncts are not allowed in ON — " +
            "move them to WHERE or a subquery")
        if (parts.lKeys.nonEmpty)
          BandConds.lowerBand(u.left, u.right, parts, u.hint, u.keepUnmatched)
        else
          BandConds.lowerBandKeyless(u.left, u.right, parts,
            u.hint, u.keepUnmatched)
      }
    case u: UnresolvedAsofJoin if u.childrenResolved =>
      val resolver = conf.resolver
      val cond = u.condition.transformUp {
        case ua: UnresolvedAttribute =>
          u.left.resolve(ua.nameParts, resolver)
            .orElse(u.right.resolve(ua.nameParts, resolver))
            .getOrElse(throw new IllegalArgumentException(
              s"ASOF JOIN: cannot resolve '${ua.name}' against either side"))
      }
      def side(e: Expression): Option[(Attribute, Boolean)] = e match {
        case a: Attribute if u.left.outputSet.contains(a) => Some((a, true))
        case a: Attribute if u.right.outputSet.contains(a) => Some((a, false))
        case _ => None
      }
      var lKeys = Vector.empty[Attribute]
      var rKeys = Vector.empty[Attribute]
      var time: Option[(Attribute, Attribute, String)] = None
      def addTime(lt: Attribute, rt: Attribute, dir: String): Unit = {
        require(time.isEmpty,
          "ASOF JOIN: exactly one time inequality allowed in ON")
        time = Some((lt, rt, dir))
      }
      AsofSqlRewrite.conjunctsOf(cond).foreach {
        case EqualTo(a, b) =>
          (side(a), side(b)) match {
            case (Some((x, true)), Some((y, false))) =>
              lKeys :+= x; rKeys :+= y
            case (Some((x, false)), Some((y, true))) =>
              lKeys :+= y; rKeys :+= x
            case _ => throw new IllegalArgumentException(
              s"ASOF JOIN: key equality must be probe.col = build.col, got $a = $b")
          }
        case GreaterThanOrEqual(a, b) =>
          (side(a), side(b)) match {
            case (Some((x, true)), Some((y, false))) => addTime(x, y, "backward")
            case (Some((x, false)), Some((y, true))) => addTime(y, x, "forward")
            case _ => throw new IllegalArgumentException(
              s"ASOF JOIN: time inequality must span sides, got $a >= $b")
          }
        case LessThanOrEqual(a, b) =>
          (side(a), side(b)) match {
            case (Some((x, true)), Some((y, false))) => addTime(x, y, "forward")
            case (Some((x, false)), Some((y, true))) => addTime(y, x, "backward")
            case _ => throw new IllegalArgumentException(
              s"ASOF JOIN: time inequality must span sides, got $a <= $b")
          }
        case other => throw new IllegalArgumentException(
          s"ASOF JOIN: unsupported ON conjunct $other (key equalities " +
            "and one >=/<= time comparison only)")
      }
      val (lt, rt, dir) = time.getOrElse(throw new IllegalArgumentException(
        "ASOF JOIN: ON must contain a time inequality (>= or <=)"))
      if (lKeys.nonEmpty && u.left.isStreaming && u.right.isStreaming) {
        // STREAM-STREAM keyed as-of: lowered to the append-mode
        // composition (native interval join + windowed extremum —
        // StreamAsof.asofToleranceAppend), the same
        // build-around-the-child-plans arrangement as the keyless
        // branch below. TOLERANCE is mandatory — unbounded lookback
        // has no bounded-state formulation. The hint is ignored
        // (streaming has exactly one physical join); emission is
        // append-mode (rows appear when the watermark closes their
        // emit window), the latency-for-exactness trade the operator
        // documents.
        require(u.toleranceUs >= 0L,
          "stream-stream ASOF JOIN requires TOLERANCE <micros>: " +
            "unbounded lookback has no bounded-state formulation " +
            "(state would hold every build row forever). Note also the " +
            "probe-row contract: the append-mode lowering aggregates " +
            "per probe row, so FULLY-duplicate probe rows collapse to " +
            "one output row — keep a unique column (an event id) on " +
            "the probe side.")
        composeOver(u.left, u.right, "ss", rt, u.keepUnmatched) {
          (l, r, lName, rName) =>
            graft.streaming.StreamAsof.asofToleranceAppend(l, r,
              lKeys.map(lName).zip(rKeys.map(rName)), lName(lt), rName(rt),
              u.toleranceUs, dir)
        }
      } else if (lKeys.isEmpty && u.left.isStreaming && u.right.isStreaming) {
        // KEYLESS STREAM-STREAM as-of: Spark cannot plan a
        // stream-stream join without an equality predicate, so the
        // lowering goes through StreamAsof.asofToleranceAppendKeyless —
        // the tolerance IS the bucket width that manufactures the key
        // (build rows replicate to the two reachable buckets; no carry
        // table — the tolerance bounds reachback to one bucket width).
        // TOLERANCE is therefore doubly mandatory here.
        require(u.toleranceUs > 0L,
          "keyless stream-stream ASOF JOIN requires TOLERANCE <micros> " +
            "> 0: the tolerance bounds both the state and the bucket " +
            "width that manufactures the join key. Note also the " +
            "probe-row contract: the append-mode lowering aggregates " +
            "per probe row, so FULLY-duplicate probe rows collapse to " +
            "one output row — keep a unique column (an event id) on " +
            "the probe side.")
        composeOver(u.left, u.right, "ssk", rt, u.keepUnmatched) {
          (l, r, lName, rName) =>
            graft.streaming.StreamAsof.asofToleranceAppendKeyless(l, r,
              lName(lt), rName(rt), u.toleranceUs, dir)
        }
      } else if (lKeys.isEmpty) {
        // KEYLESS asof — DuckDB supports the clause without equality
        // keys; lowered via AsofKeyless's bucket+carry composition
        // (built with the DataFrame API around the clause's child
        // plans, then re-aliased onto this node's expected output ids).
        // Timestamp times ride a SHADOW micros column appended to each
        // side (BandConds.microsOf — the exact physical longs the keyed
        // exec merges on), so the original columns keep their types.
        // stream-static works (the composition switches its in-bucket
        // join to the broadcast as-of and computes the width eagerly
        // from the static build); a streaming BUILD side has no bounded
        // carry and is refused by PlanBridge.timeJoin
        composeOver(u.left, u.right, "kl", rt, u.keepUnmatched,
            shadowTimes = Some((lt, rt))) {
          (l, r, lName, rName) =>
            AsofKeyless.asofJoinKeyless(l, r, lName(lt), rName(rt), dir,
              u.toleranceUs, u.hint)
        }
      } else {
        // SQL semantics, not the Column API's documented raw-operator
        // semantics: null keys/times never match (DuckDB's ASOF JOIN
        // agrees) — BandConds.withNullHygiene filters the build side and
        // routes null-time probes, and subsumes the inner variant's
        // IsNotNull(build time) output filter
        BandConds.withNullHygiene(u.left, u.right, rKeys, rt, lt,
          u.keepUnmatched)((probe, build) =>
          TimeJoinPlan(probe, build, lKeys, rKeys, lt, rt,
            Asof(dir, u.toleranceUs),
            TimeJoinPlan.steerHint(u.left.isStreaming, u.hint)))
      }
  }

  /** Lowers a clause through a DataFrame-level composition built around
    * the clause's child plans, and re-aliases the composition's output
    * onto this node's expected attribute ids. SQL join sides may share
    * column names while the compositions work by name, so each side's
    * columns are first renamed to `__graft_<tag>_l<i>` / `_r<i>`;
    * `compose` receives the renamed sides and each side's old-attribute
    * → new-name map. `shadowTimes` appends each side's time as exact
    * physical micros (BandConds.microsOf, the longs the keyed exec
    * merges on) under `__graft_<tag>_lt` / `_rt`, which the name maps
    * then return for the time attributes, so the original columns keep
    * their types. The inner variant keeps rows with a non-null build
    * time (`rt`). */
  private def composeOver(left: LogicalPlan, right: LogicalPlan, tag: String,
      rt: Attribute, keepUnmatched: Boolean,
      shadowTimes: Option[(Attribute, Attribute)] = None)(
      compose: (DataFrame, DataFrame, Attribute => String,
        Attribute => String) => DataFrame): LogicalPlan = {
    val spark = org.apache.spark.sql.SparkSession.active
    def renamed(plan: LogicalPlan, side: String,
        shadow: Option[Attribute]): (DataFrame, Attribute => String) = {
      val names = plan.output.indices.map(i => s"__graft_${tag}_$side$i")
      val shadowName = s"__graft_${tag}_${side}t"
      val proj = Project(plan.output.zip(names).map {
        case (a, n) => Alias(a, n)() } ++
        shadow.map(t => Alias(BandConds.microsOf(t), shadowName)()), plan)
      (org.apache.spark.sql.graft.PlanBridge.dataFrame(spark, proj),
        a => if (shadow.exists(_.exprId == a.exprId)) shadowName
          else names(plan.output.indexWhere(_.exprId == a.exprId)))
    }
    val (l, lName) = renamed(left, "l", shadowTimes.map(_._1))
    val (r, rName) = renamed(right, "r", shadowTimes.map(_._2))
    val cPlan = compose(l, r, lName, rName).queryExecution.analyzed
    // composed output = renamed left ++ [left shadow] ++ renamed right
    // ++ [right shadow]: map the expected attributes around the shadows
    val n = left.output.size
    val skip = if (shadowTimes.isDefined) 1 else 0
    val expected = left.output ++ right.output.map(_.withNullability(true))
    val aliased = Project(expected.zipWithIndex.map { case (exp, i) =>
      Alias(cPlan.output(if (i < n) i else i + skip), exp.name)(
        exprId = exp.exprId)
    }, cPlan)
    if (keepUnmatched) aliased
    else Filter(IsNotNull(aliased.output(
      n + right.output.indexWhere(_.exprId == rt.exprId))), aliased)
  }
}
