package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Auto range-join rewrite — a whole-plan optimizer extension (the
  * builder brief's architecture tier (c)): an inner join whose ONLY
  * join predicates are a lower and an upper bound on the same point
  * expression (`pt >= lo AND pt < hi` in any orientation) has no
  * equi-join keys, so Spark plans it as a broadcast-nested-loop /
  * cartesian product — |points|×|intervals| work. This rule rewrites
  * the LOGICAL join into the grid-bucket form [[graft.ops.RangeJoin]]
  * builds by hand: the point side gains its grid cell, the interval
  * side explodes to the cells it may overlap, the join becomes an
  * equi-join on the cell with the ORIGINAL predicates kept as the
  * residual exact filter. Same rewrite class as the range-join
  * optimization commercial Spark platforms apply under a hint.
  *
  * Activation: always on once registered ([[graft.GraftSession.get]]
  * or `spark.sql.extensions=graft.GraftExtensions`); the kill switch
  * is Spark's own
  * `spark.sql.optimizer.excludedRules=graft.plans.RangeJoinRewrite`
  * (this rule's `ruleName`). The cell width:
  *   - `spark.graft.rangeJoin.binSize` > 0 — fixed cell width in the
  *     point column's own units (the r10 manual knob, still honored);
  *   - otherwise AUTO-DERIVED: from the statically-provable interval
  *     span when the bounds share a base expression (`b±c1` /
  *     `b±c2`, traced through Project aliases), else from a bounded
  *     sample of interval lengths ([[SampleRows]] rows, median — the
  *     same bounded-collect pattern as the KNN pivot sample,
  *     `ml/Knn.scala`). A join with no sampleable positive span is
  *     left alone.
  *
  * Correctness containment: the enumerated cells `[cell(lo), cell(hi)]`
  * are a SUPERSET of the cells the half-open interval touches for any
  * monotone cell function, and truncating integer division IS monotone
  * for either sign — the residual filter then removes every edge
  * false-positive, so inclusivity/exclusivity and negative domains
  * never change results (ExtSpec pins equality against the unrewritten
  * brute-force join on a signed domain). Null points/bounds produce a
  * null cell, which the cell equi-join drops — exactly the rows the
  * original null-rejecting comparisons dropped.
  *
  * Cell-count bound (round-10 advice #1): per-interval cell
  * enumeration is CAPPED at [[MaxCells]] — without it a
  * sentinel-bounded interval (hi = Long.MaxValue, the common "no upper
  * bound" encoding) makes Sequence throw its max-length error or OOM.
  *   - Statically-bounded span: span within the cap → the pure grid
  *     (no overhead); over the cap, or statically empty (hi < lo) →
  *     the join is left as written (skip, never fail).
  *   - Unknown span (bounds are data, not expressions): every row is
  *     classified at runtime. Narrow intervals (≤ MaxCells cells, and
  *     cells inside ±2^61 so the key encoding below cannot overflow
  *     under ANSI) enumerate even grid keys `2·cell`; wide/extreme
  *     intervals land in [[OverflowSalts]] odd OVERFLOW keys
  *     `2·salt+1`. Points probe their own grid key plus ONE
  *     hash-salted overflow key, so the whole join stays a single
  *     equi-join — wide intervals degrade to a partitioned
  *     all-pairs against the points (the honest cost; they were a
  *     full nested loop before) without ever planning a
  *     nested-loop operator or failing at runtime. Price when no
  *     wide interval exists: one extra shuffle row per point —
  *     which is why the statically-bounded path skips the
  *     machinery entirely.
  *
  * Scale: shuffle ∝ points + interval-cell copies instead of the
  * nested-loop product. The rewritten join contains an equi-conjunct,
  * so the rule cannot re-match its own output (idempotent under
  * transformUp), and any join that already has an equi key between
  * the two sides is left alone — Spark's hash joins handle those fine
  * with the range as a post-scan filter. Because every path is
  * bounded (cap, skip, or overflow bucket), an always-on rule can
  * never turn a slow-but-working nested-loop query into a failure
  * (round-10 advice #1's second half).
  */
object RangeJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  val BinConf = "spark.graft.rangeJoin.binSize"
  val MaxCells = 4096L

  /** Overflow buckets for runtime-wide intervals: enough to spread the
    * residual all-pairs work across a local[32]'s cores (a cluster
    * deployment can afford more, but each wide interval is copied once
    * per salt, so this is a copies-vs-parallelism dial, not a cap). */
  val OverflowSalts = 32

  /** Bounded interval-length sample for auto bin derivation. */
  val SampleRows = 10000

  /** Grid cells outside ±2^61 route to the overflow bucket so the
    * `2·cell` key encoding and the ±MaxCells span arithmetic can never
    * overflow a Long (ANSI mode would throw). */
  private val MaxAbsCell = 1L << 61

  def ensureRegistered(s: SparkSession): Unit =
    if (!s.experimental.extraOptimizations.contains(RangeJoinRewrite))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ RangeJoinRewrite

  /** Re-entrance guard: the auto-bin sample is itself a Spark query
    * whose optimization runs this rule; without the guard a sample
    * containing a matching join would recurse. */
  private val sampling = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (sampling.get()) plan
    else {
      val bin =
        try Some(SQLConf.get.getConfString(BinConf, "0").toLong).filter(_ > 0)
        catch { case _: NumberFormatException => None }
      plan.transformUp {
        case j @ Join(_, _, Inner, Some(_), _) => rewrite(j, bin).getOrElse(j)
      }
    }

  /** Both canonical orientations (point expr, bound expr, isLower) of a
    * comparison conjunct whose two sides reference the two different
    * join children — `a <= b` is simultaneously "a is a lower bound of
    * b" and "b is an upper bound of a", and which reading is the range
    * join's point only becomes clear when a conjunct pair shares a
    * point expression. */
  private def asBounds(c: Expression, left: LogicalPlan,
      right: LogicalPlan): Seq[(Expression, Expression, Boolean)] = {
    def crossesSides(a: Expression, b: Expression): Boolean = {
      def sideOf(e: Expression): Option[Boolean] = {
        val refs = e.references
        if (refs.isEmpty) None
        else if (refs.subsetOf(left.outputSet)) Some(true)
        else if (refs.subsetOf(right.outputSet)) Some(false)
        else None
      }
      (sideOf(a), sideOf(b)) match {
        case (Some(sa), Some(sb)) => sa != sb
        case _ => false
      }
    }
    // normalize to (small, large): small <= large (strictness handled
    // by the residual filter, so it never affects the cell algebra)
    val ordered = c match {
      case LessThanOrEqual(a, b) => Some((a, b))
      case LessThan(a, b) => Some((a, b))
      case GreaterThanOrEqual(a, b) => Some((b, a))
      case GreaterThan(a, b) => Some((b, a))
      case _ => None
    }
    ordered match {
      case Some((small, large)) if crossesSides(small, large) =>
        // large as the point (small its lower bound), and
        // small as the point (large its upper bound)
        Seq((large, small, true), (small, large, false))
      case _ => Seq.empty
    }
  }

  /** Long value of an integral literal, if that's what `e` is. */
  private def litLong(e: Expression): Option[Long] = e match {
    case Literal(v: Number, dt) if isIntegral(dt) => Some(v.longValue())
    case _ => None
  }

  private def isIntegral(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
  }

  /** Substitute Project aliases into `e`, walking down through
    * Project/Filter nodes of `plan` (bounded depth) — so a bound
    * written as `.select((ts - c).as("lo"), ...)` is seen as the
    * `ts - c` it is, not an opaque attribute. Used only for STATIC
    * span analysis, never to build the rewritten plan. */
  private def dealias(e0: Expression, plan0: LogicalPlan): Expression = {
    var e = e0
    var plan = plan0
    var depth = 8
    while (depth > 0) {
      plan match {
        case Project(projList, child) =>
          val m = projList.collect {
            case a: Alias => a.exprId -> a.child
          }.toMap
          e = e.transform {
            case a: AttributeReference if m.contains(a.exprId) => m(a.exprId)
          }
          plan = child
        case f: Filter => plan = f.child
        case _ => depth = 1
      }
      depth -= 1
    }
    e
  }

  /** (base, literal offset) decomposition: `b + c` / `c + b` / `b - c`
    * / literal / anything. */
  private def baseOffset(e: Expression): (Expression, Long) = e match {
    case Add(b, l, _) if litLong(l).isDefined => (b, litLong(l).get)
    case Add(l, b, _) if litLong(l).isDefined => (b, litLong(l).get)
    case Subtract(b, l, _) if litLong(l).isDefined => (b, -litLong(l).get)
    case _ => (e, 0L)
  }

  /** hi − lo when provable at plan time: both literals, or both of the
    * form `base ± literal` over the same base expression. */
  private def staticSpan(lo: Expression, hi: Expression): Option[Long] =
    (litLong(lo), litLong(hi)) match {
      case (Some(a), Some(b)) => Some(b - a)
      case _ =>
        val (bl, ol) = baseOffset(lo)
        val (bh, oh) = baseOffset(hi)
        if (bl.semanticEquals(bh)) Some(oh - ol) else None
    }

  /** Memoized sample outcomes (r11 advice #1): the sample is a
    * driver-side Spark job launched DURING logical optimization, and the
    * fixed-point operator batch re-runs this rule several times per
    * query (plus once more per re-optimization and per .explain()) — so
    * each outcome, INCLUDING None, is cached keyed on the canonicalized
    * sample plan (exprIds normalized positionally, so re-instantiations
    * of the same query hit). Bounded LRU; staleness when the underlying
    * data changes under an identical plan is acceptable for a bin
    * HEURISTIC — the residual filter keeps results exact regardless. */
  private val SampleCacheMax = 64
  private val sampleCache =
    new java.util.LinkedHashMap[LogicalPlan, Option[Long]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[LogicalPlan, Option[Long]]): Boolean =
        size() > SampleCacheMax
    }

  /** Test hook: observed cache size (SampleSpec pins one-entry-per-
    * shape, not one-job-per-optimizer-iteration). */
  private[graft] def sampleCacheSize: Int =
    sampleCache.synchronized(sampleCache.size())
  private[graft] def clearSampleCache(): Unit =
    sampleCache.synchronized(sampleCache.clear())

  /** Median interval length from a bounded sample of the interval
    * side — at most ONE small Spark job per distinct sampled shape
    * (memoized above). None when the sample has no positive span. */
  private def sampleBin(ivChild: LogicalPlan, lo: Expression,
      hi: Expression): Option[Long] = {
    val spark = SparkSession.active
    // Double subtraction: a bin HEURISTIC must never itself overflow —
    // ANSI Long arithmetic on sentinel bounds (hi = Long.MaxValue, lo
    // negative) would throw; the precision loss on astronomic spans is
    // irrelevant to a cell-width choice
    val span = Alias(Subtract(
      Cast(hi, org.apache.spark.sql.types.DoubleType),
      Cast(lo, org.apache.spark.sql.types.DoubleType)), "__graft_span")()
    // LIMIT BELOW the positivity filter (r11 advice #1): the filter
    // cannot push a limit through itself, so an interval side with
    // few/no positive spans was scanned in FULL per sample; bounding
    // the scan first keeps the job O(SampleRows) rows regardless of
    // data. Price: a side whose first SampleRows rows happen to carry
    // no positive span skips the rewrite (None) — correct, unrewritten.
    val samplePlan = Project(Seq(span), Limit(Literal(SampleRows), ivChild))
    val key = samplePlan.canonicalized
    val cached = sampleCache.synchronized(Option(sampleCache.get(key)))
    cached.getOrElse {
      sampling.set(true)
      val result =
        try {
          val rows = org.apache.spark.sql.graftbridge.DataFrameBridge
            .ofRows(spark, samplePlan)
            .filter(org.apache.spark.sql.functions.col("__graft_span") > 0.0)
            .collect()
          if (rows.isEmpty) None
          else {
            val spans = rows.map(_.getDouble(0)).sorted
            val med = spans((spans.length - 1) / 2)
            Some(math.max(1L, math.min(med, MaxAbsCell.toDouble).toLong))
          }
        } catch {
          // un-runnable sample (streaming child, analysis mismatch) →
          // leave the plan alone; fatal errors (OOM, interrupt) propagate
          case scala.util.control.NonFatal(_) => None
        } finally sampling.set(false)
      sampleCache.synchronized(sampleCache.put(key, result)): Unit
      result
    }
  }

  private def rewrite(j: Join, fixedBin: Option[Long]): Option[LogicalPlan] = {
    val (left, right) = (j.left, j.right)
    val cond = j.condition.get
    val conjuncts = splitConjunctivePredicates(cond)
    // a usable equi key means Spark already has a hash-join shape —
    // leave the join alone (and this also makes the rule idempotent:
    // the rewritten join carries a cell equi-conjunct). Both sides
    // must actually REFERENCE a child (round-10 advice #5: a literal
    // side has an empty reference set that subsetOf-passes for either
    // child, misreading `left.x = 5` as an equi key).
    val hasEqui = conjuncts.exists {
      case EqualTo(a, b) =>
        a.references.nonEmpty && b.references.nonEmpty &&
          ((a.references.subsetOf(left.outputSet) &&
            b.references.subsetOf(right.outputSet)) ||
           (b.references.subsetOf(left.outputSet) &&
            a.references.subsetOf(right.outputSet)))
      case _ => false
    }
    if (hasEqui) return None
    val bounds = conjuncts.flatMap(c => asBounds(c, left, right))
    // need a lower and an upper bound on the SAME point expression,
    // integral-typed (the grid arithmetic is integer division)
    val lowers = bounds.collect { case (p, b, true) => (p, b) }
    val uppers = bounds.collect { case (p, b, false) => (p, b) }
    val candidates = for {
      (pt1, lo) <- lowers
      (pt2, hi) <- uppers
      if pt1.semanticEquals(pt2)
      if isIntegral(pt1.dataType) && isIntegral(lo.dataType) &&
        isIntegral(hi.dataType)
    } yield (pt1, lo, hi)
    candidates.headOption.flatMap { case (pt, lo, hi) =>
      val ptOnLeft = pt.references.subsetOf(left.outputSet)
      val (pointChild, ivChild) = if (ptOnLeft) (left, right) else (right, left)
      val span = staticSpan(dealias(lo, ivChild), dealias(hi, ivChild))
      // bin choice: explicit conf > provable span (2 cells/interval)
      // > sampled median (2-3 cells for typical intervals)
      val bin = fixedBin
        .orElse(span.collect { case s if s > 0 => s })
        .orElse(if (span.isEmpty) sampleBin(ivChild, lo, hi) else None)
      bin.flatMap { b =>
        span match {
          case Some(s) if s < 0 => None // statically empty join; leave it
          case Some(s) if s / b + 2 <= MaxCells =>
            Some(pureGrid(j, pt, lo, hi, b, pointChild, ivChild, ptOnLeft))
          case Some(_) => None // provably over the cap for this bin: skip
          case None =>
            Some(overflowGrid(j, pt, lo, hi, b, pointChild,
              ivChild, ptOnLeft))
        }
      }
    }
  }

  private def cellOf(e: Expression, bin: Long): Expression =
    new IntegralDivide(Cast(e, LongType), Literal(bin))

  private def seqTz(start: Expression, stop: Expression,
      step: Option[Expression]): Expression =
    // Sequence is TimeZoneAware (for temporal sequences): without a
    // zone it reports unresolved and the optimizer rejects the plan
    Sequence(start, stop, step).withTimeZone(SQLConf.get.sessionLocalTimeZone)

  /** The statically-bounded form: point → its cell, interval → the ≤
    * cap cells it overlaps, one equi-join, original predicates as the
    * residual filter. */
  private def pureGrid(j: Join, pt: Expression, lo: Expression,
      hi: Expression, bin: Long, pointChild: LogicalPlan,
      ivChild: LogicalPlan, ptOnLeft: Boolean): LogicalPlan = {
    val cond = j.condition.get
    val ptCell = AttributeReference("__graft_pt_cell", LongType)()
    val ivCell = AttributeReference("__graft_iv_cell", LongType)()
    val pointPlan = Project(
      pointChild.output :+ Alias(cellOf(pt, bin), ptCell.name)(ptCell.exprId),
      pointChild)
    val ivPlan = Generate(
      Explode(seqTz(cellOf(lo, bin), cellOf(hi, bin), None)),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(ivCell), child = ivChild)
    val (newLeft, newRight) =
      if (ptOnLeft) (pointPlan, ivPlan) else (ivPlan, pointPlan)
    val newCond = And(EqualTo(ptCell, ivCell), cond)
    Project(j.output, Join(newLeft, newRight, Inner, Some(newCond), j.hint))
  }

  /** The runtime-classified form for data-dependent spans. Key
    * encoding: grid cell c → even key 2c; overflow salt s → odd key
    * 2s+1 — one Long key space, one equi-join. Points emit their grid
    * key and one hash-salted overflow probe; intervals emit their cell
    * range (even keys, step 2) when narrow and in-range, all
    * [[OverflowSalts]] odd keys when wide, extreme, or
    * unclassifiable. Original predicates stay as the residual exact
    * filter, so the classification can only cost time, never rows. */
  private def overflowGrid(j: Join, pt: Expression, lo: Expression,
      hi: Expression, bin: Long, pointChild: LogicalPlan,
      ivChild: LogicalPlan, ptOnLeft: Boolean): LogicalPlan = {
    val cond = j.condition.get
    val ptCell = AttributeReference("__graft_pt_cell", LongType)()
    val ivCell = AttributeReference("__graft_iv_cell", LongType)()
    val emptyArr =
      Literal.create(Array.empty[Long], ArrayType(LongType, false))
    def inRange(c: Expression): Expression = And(
      GreaterThanOrEqual(c, Literal(-MaxAbsCell)),
      LessThanOrEqual(c, Literal(MaxAbsCell)))
    // points: [2·cell] ++ [2·salt+1]; a point whose cell is outside
    // the safe encoding range probes ONLY overflow (any interval
    // containing it is extreme too, hence overflow-classified)
    val pCell = cellOf(pt, bin)
    val pGrid = Multiply(pCell, Literal(2L))
    val pOv = Add(Multiply(Cast(Pmod(new Murmur3Hash(Seq(pt)),
      Literal(OverflowSalts)), LongType), Literal(2L)), Literal(1L))
    val pArr = CaseWhen(
      Seq((IsNull(pCell), emptyArr),
        (inRange(pCell), CreateArray(Seq(pGrid, pOv)))),
      Some(CreateArray(Seq(pOv))))
    val pointPlan = Generate(Explode(pArr),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(ptCell), child = pointChild)
    // intervals: null bounds → no cells (the original null-rejecting
    // comparisons dropped those rows anyway); narrow in-range → even
    // grid keys; else → every odd overflow key
    val cLo = cellOf(lo, bin)
    val cHi = cellOf(hi, bin)
    // strict <: cHi-cLo = d enumerates d+1 cells, so the inclusive form
    // admitted MaxCells+1 — one over the documented cap and inconsistent
    // with the static path's s/b+2 <= MaxCells bound (r11 advice #3)
    val narrow = And(And(inRange(cLo), inRange(cHi)),
      And(GreaterThanOrEqual(cHi, cLo),
        LessThan(Subtract(cHi, cLo), Literal(MaxCells))))
    val narrowSeq = seqTz(Multiply(cLo, Literal(2L)),
      Multiply(cHi, Literal(2L)), Some(Literal(2L)))
    val wideSeq = seqTz(Literal(1L), Literal(2L * OverflowSalts - 1),
      Some(Literal(2L)))
    val ivArr = CaseWhen(
      Seq((Or(IsNull(cLo), IsNull(cHi)), emptyArr),
        // runtime-empty interval (hi < lo ⇒ cHi < cLo possible): it can
        // match nothing — emitting the overflow fan-out for it would pay
        // 32 copies + an all-pairs probe per provably-dead row
        (LessThan(cHi, cLo), emptyArr),
        (narrow, narrowSeq)),
      Some(wideSeq))
    val ivPlan = Generate(Explode(ivArr),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(ivCell), child = ivChild)
    val (newLeft, newRight) =
      if (ptOnLeft) (pointPlan, ivPlan) else (ivPlan, pointPlan)
    val newCond = And(EqualTo(ptCell, ivCell), cond)
    Project(j.output, Join(newLeft, newRight, Inner, Some(newCond), j.hint))
  }
}
