package graft.plans

import graft.functions.RowTopK
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Auto top-k rewrite — the second whole-plan optimizer extension
  * (SURVEY.md §4's named custom-strategy candidate, round-10 verdict
  * punch #1): the naive top-k-per-group a user naturally writes,
  *
  * {{{
  *   scored.withColumn("rank", row_number().over(
  *       Window.partitionBy("qid").orderBy($"cos".desc, $"rid")))
  *     .filter($"rank" <= k)
  * }}}
  *
  * executes as written: EVERY scored row shuffles to its group's
  * window partition and the whole group sorts, even though only k rows
  * survive the filter. Spark's own InferWindowGroupLimit bounds the
  * per-partition sort, but the full |group| row set still flows
  * through the exchange. This rule rewrites the
  * `Filter(rank <= k, Window(row_number over (P order O)))` shape into
  * the bounded-heap aggregate plan the engine's library functions
  * already hand-build ([[graft.functions.TopKSmallest]],
  * `ext/Similarity.bruteForceTopK`):
  *
  * {{{
  *   Aggregate(P, row_topk(O-keys ++ child.*, k))
  *     → PosExplode → Project(child.*, pos+1 AS rank)
  * }}}
  *
  * Map-side partial aggregation keeps ≤ k rows per (group, input
  * partition), so the exchange carries O(groups·k·partitions) rows
  * instead of the full score set, and the per-group sort disappears
  * entirely (a k-sized heap per group replaces it). For a brute-force
  * cosine top-k over |Q| queries × |R| references, that is the
  * difference between shuffling |Q|·|R| scored pairs and shuffling
  * |Q|·k·partitions rows — the one scale-killer a user could still
  * reach by hand (the Window form; pinned equal to the aggregate form
  * in ExtSpec).
  *
  * Semantics: row_number() over a non-total ORDER BY breaks ties
  * arbitrarily; the heap keeps an equally-arbitrary (but valid)
  * subset, the same contract Spark's own rank-limit pushdown has. The
  * rewrite preserves output attributes (same exprIds, same order:
  * child.* :+ rank), so downstream operators resolve unchanged.
  * Residual filter conjuncts (anything beside the rank bound) are
  * re-applied above the rewritten subtree — they commuted with the
  * window in the original plan because the window only APPENDS a
  * column.
  *
  * Matched only when: exactly one window expression and it is
  * row_number(), rank(), or dense_rank() (the rank family gets the
  * tie-keeping [[graft.functions.RankTopK]] — round-11 punch #1: a
  * rank() bound must keep every row order-equal to the k-th, a
  * dense_rank() bound the k smallest distinct keys, so the arbitrary-
  * subset heap would be wrong); the filter carries at least one UPPER
  * bound by a positive integer literal ≤ [[MaxK]] (beyond that a
  * per-group heap stops being obviously better than the sort); the
  * plan is batch (streaming keeps Spark's stateful machinery).
  * Pagination (`rank BETWEEN a AND b`, a > 1; `rank = n`) rewrites
  * too: the heap is sized by the upper bound and the remaining rank
  * predicate filters the rebuilt rank column — the exchange still
  * carries O(groups·b·partitions) rows.
  * Activation: always on once registered ([[graft.GraftSession.get]] or
  * `spark.sql.extensions=graft.GraftExtensions`); the kill switch is
  * Spark's own `spark.sql.optimizer.excludedRules=graft.plans.TopKRewrite`
  * (this rule's `ruleName`).
  */
object TopKRewrite extends Rule[LogicalPlan] with PredicateHelper {

  val MaxK = 1024L

  def ensureRegistered(s: SparkSession): Unit =
    if (!s.experimental.extraOptimizations.contains(TopKRewrite))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ TopKRewrite

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case f @ Filter(cond, w: Window) =>
        rewrite(cond, w).getOrElse(f)
      // `Filter(Project(Window))` — the shape a `.select(...)` between
      // the window and the rank filter produces (r12 punch #5). When
      // the Project only renames/reorders/drops window-output columns
      // the filter commutes through it: substitute the Project's
      // aliases into the condition, rewrite the inner window exactly
      // as above (it rebuilds the window's output under the original
      // exprIds), and re-apply the Project on top. Catalyst's own
      // PushDownPredicates usually normalizes this shape away before
      // extraOptimizations run, but not always (non-deterministic
      // sibling columns block the push; a direct `TopKRewrite(plan)`
      // caller may hand us an un-normalized plan) — a computing
      // Project keeps the Window untouched.
      case f @ Filter(cond, Project(projList, w: Window))
          if projList.forall {
            case a: Attribute => w.outputSet.contains(a)
            case Alias(ref: Attribute, _) => w.outputSet.contains(ref)
            case _ => false
          } =>
        val sub: Map[ExprId, Attribute] = projList.collect {
          case a @ Alias(ref: Attribute, _) => a.exprId -> ref
        }.toMap
        val cond2 = cond.transform {
          case attr: Attribute => sub.getOrElse(attr.exprId, attr)
        }
        rewrite(cond2, w)
          .map(r => Project(projList, r))
          .getOrElse(f)
    }

  private def intLit(e: Expression): Option[Long] = e match {
    case Literal(v: Number, dt) if dt == IntegerType ||
        dt == org.apache.spark.sql.types.LongType => Some(v.longValue())
    case _ => None
  }

  /** The heap bound a conjunct implies, plus whether the bound fully
    * CAPTURES the conjunct (a pure `rank <= k` is subsumed by a k-row
    * heap and drops out; `rank = n` bounds the heap at n but must stay
    * a residual over the rebuilt rank column). */
  private def rankBound(c: Expression,
      rank: Attribute): Option[(Long, Boolean)] =
    c match {
      case LessThanOrEqual(a: Attribute, l) if a.semanticEquals(rank) =>
        intLit(l).map((_, true))
      case LessThan(a: Attribute, l) if a.semanticEquals(rank) =>
        intLit(l).map(v => (v - 1, true))
      case GreaterThanOrEqual(l, a: Attribute) if a.semanticEquals(rank) =>
        intLit(l).map((_, true))
      case GreaterThan(l, a: Attribute) if a.semanticEquals(rank) =>
        intLit(l).map(v => (v - 1, true))
      case EqualTo(a: Attribute, l) if a.semanticEquals(rank) =>
        intLit(l).map((_, false))
      case EqualTo(l, a: Attribute) if a.semanticEquals(rank) =>
        intLit(l).map((_, false))
      case _ => None
    }

  /** Conjuncts trivially TRUE for any ranking function (rank ≥ 1
    * always): `rank >= c` for c ≤ 1, `rank > c` for c ≤ 0, either
    * orientation. `rnk BETWEEN 1 AND k` — the spelling SQL users reach
    * for first — desugars to `rank >= 1 AND rank <= k`, and without
    * this the lower conjunct survived as a rank-referencing residual.
    * A lower bound ABOVE 1 is genuine pagination: it stays a residual
    * re-applied over the rebuilt rank column (the heap is sized by the
    * UPPER bound, which pagination always carries too). Dropping the
    * trivial ones here just keeps the common case residual-free. */
  private def trivialRankLower(c: Expression, rank: Attribute): Boolean =
    c match {
      case GreaterThanOrEqual(a: Attribute, l) if a.semanticEquals(rank) =>
        intLit(l).exists(_ <= 1L)
      case GreaterThan(a: Attribute, l) if a.semanticEquals(rank) =>
        intLit(l).exists(_ <= 0L)
      case LessThanOrEqual(l, a: Attribute) if a.semanticEquals(rank) =>
        intLit(l).exists(_ <= 1L)
      case LessThan(l, a: Attribute) if a.semanticEquals(rank) =>
        intLit(l).exists(_ <= 0L)
      case _ => false
    }

  /** Which ranking function bounds the filter — each needs a different
    * tie contract from the aggregate (round-11 punch #1):
    * row_number() keeps an arbitrary k-subset of boundary ties (the
    * bounded HEAP, [[graft.functions.RowTopK]]); rank() must keep ALL
    * rows order-equal to the k-th; dense_rank() keeps the k smallest
    * DISTINCT keys (both via the tie-keeping
    * [[graft.functions.RankTopK]]). */
  private sealed trait Mode
  private case object RowNumMode extends Mode
  private case object RankMode extends Mode
  private case object DenseRankMode extends Mode

  private def rewrite(cond: Expression, w: Window): Option[LogicalPlan] = {
    if (w.isStreaming) return None
    // exactly one window expression: a ranking function with its
    // standard frame
    val rankAlias: Option[(Alias, Mode)] = w.windowExpressions match {
      case Seq(a @ Alias(WindowExpression(RowNumber(), _), _)) =>
        Some((a, RowNumMode))
      case Seq(a @ Alias(WindowExpression(_: Rank, _), _)) =>
        Some((a, RankMode))
      case Seq(a @ Alias(WindowExpression(_: DenseRank, _), _)) =>
        Some((a, DenseRankMode))
      case _ => None
    }
    rankAlias.filter(_ => w.orderSpec.nonEmpty).flatMap { case (alias, mode) =>
      val rankAttr = alias.toAttribute
      // trivially-true lower bounds (rank >= 1, the BETWEEN 1 AND k
      // spelling) drop out entirely — neither a bound nor a residual
      val conjuncts = splitConjunctivePredicates(cond)
        .filterNot(c => trivialRankLower(c, rankAttr))
      val bounds = conjuncts.flatMap(c => rankBound(c, rankAttr).map(_._1))
      val residual =
        conjuncts.filterNot(c => rankBound(c, rankAttr).exists(_._2))
      // Rank-referencing residuals — pagination lower bounds
      // (`rank BETWEEN 11 AND 20` → `rank >= 11`), `rank = n`, parity
      // predicates — are fine: the rewritten subtree rebuilds the rank
      // column under its ORIGINAL exprId, and a heap of min(upper
      // bounds) rows contains every row any such residual can accept,
      // so re-applying them above the Project reproduces the original
      // filter exactly. Only an upper bound within the heap cap is
      // required.
      val kOpt = Some(bounds).filter(_.nonEmpty).map(_.min)
        .filter(k => k >= 1 && k <= MaxK)
      kOpt.map(buildPlan(w, alias, rankAttr, residual, _, mode))
    }
  }

  private def buildPlan(w: Window, alias: Alias, rankAttr: Attribute,
      residual: Seq[Expression], k: Long, mode: Mode): LogicalPlan = {
      // Spark's InferWindowGroupLimit may already have inserted its
      // per-partition limit below the window — the rewrite replaces
      // that machinery wholesale, so unwrap it
      val child = w.child match {
        case wgl: WindowGroupLimit => wgl.child
        case c => c
      }
      val order = w.orderSpec
      // Heap-row layout (code-review finding #5 on the first cut, which
      // carried every order key twice and the group keys once per row):
      //  - grouping columns that are plain attributes ride the
      //    Aggregate's grouping output, NOT the per-row payload (they
      //    are constant per group);
      //  - order keys that ARE payload attributes address their payload
      //    slot; only computed order expressions add a slot.
      val partAttrs = AttributeSet(
        w.partitionSpec.collect { case a: Attribute => a })
      val payload0 = child.output.filterNot(partAttrs.contains)
      // degenerate shape (every child column is a grouping key): carry
      // all columns in the payload so the struct is non-empty and the
      // final projection needs no grouping passthrough
      val payload = if (payload0.nonEmpty) payload0 else child.output
      val extras = scala.collection.mutable.ArrayBuffer.empty[Expression]
      val orderIdx = order.map(_.child).map {
        case a: Attribute if payload.exists(_.exprId == a.exprId) =>
          payload.indexWhere(_.exprId == a.exprId)
        case e =>
          extras += e
          payload.length + extras.length - 1
      }
      val ascendingFlags = order.map(_.direction == Ascending)
      val nullsFirstFlags = order.map(_.nullOrdering == NullsFirst)
      val agg: org.apache.spark.sql.catalyst.expressions.aggregate
          .TypedImperativeAggregate[_] = mode match {
        case RowNumMode => RowTopK(
          (payload: Seq[Expression]) ++ extras,
          payloadCount = payload.length,
          orderIdx = orderIdx,
          ascending = ascendingFlags,
          nullsFirst = nullsFirstFlags,
          k = k.toInt,
          payloadNames = payload.map(_.name))
        // tie-keeping variants (r11 punch #1): rank() keeps every row
        // order-equal to the k-th, dense_rank() the k smallest distinct
        // keys — the rank VALUE rides each struct (ranks aren't
        // positional under ties), read back below instead of pos+1
        case RankMode | DenseRankMode => graft.functions.RankTopK(
          (payload: Seq[Expression]) ++ extras,
          payloadCount = payload.length,
          orderIdx = orderIdx,
          ascending = ascendingFlags,
          nullsFirst = nullsFirstFlags,
          k = k.toInt,
          dense = mode == DenseRankMode,
          payloadNames = payload.map(_.name))
      }
      val topAttr = AttributeReference("__graft_topk", agg.dataType,
        nullable = false)()
      // grouping attrs pass through the Aggregate with their own
      // exprIds, so the final projection can reference them directly
      val groupOut = child.output.filterNot(a =>
        payload.exists(_.exprId == a.exprId))
      val aggPlan = Aggregate(
        w.partitionSpec,
        groupOut :+
          Alias(agg.toAggregateExpression(), topAttr.name)(topAttr.exprId),
        child)
      val posAttr = AttributeReference("__graft_topk_pos", IntegerType,
        nullable = false)()
      val rowType = agg.dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
      val rowAttr = AttributeReference("__graft_topk_row", rowType,
        nullable = false)()
      val gen = Generate(PosExplode(topAttr),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(posAttr, rowAttr), child = aggPlan)
      // the rank column: row_number is positional (pos+1); rank and
      // dense_rank carry their value as the struct's LAST field
      val rankValue: Expression = mode match {
        case RowNumMode => Add(posAttr, Literal(1))
        case RankMode | DenseRankMode =>
          GetStructField(rowAttr, payload.length, Some("__graft_rank"))
      }
      // rebuild the ORIGINAL output attributes (same exprIds, same
      // order: child.* :+ rank) so downstream plans resolve unchanged
      val proj = Project(
        child.output.map { a =>
          val slot = payload.indexWhere(_.exprId == a.exprId)
          if (slot >= 0)
            Alias(GetStructField(rowAttr, slot, Some(a.name)),
              a.name)(a.exprId)
          else a // grouping attr: straight from the Aggregate output
        } :+ Alias(rankValue, alias.name)(rankAttr.exprId),
        gen)
      if (residual.isEmpty) proj
      else Filter(residual.reduce(And), proj)
  }
}
