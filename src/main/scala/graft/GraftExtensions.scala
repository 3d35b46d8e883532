package graft

import graft.functions.{AdcLookup, BpeEncode, CosineArgmax, CosineSim, CountMinAgg, JlProject, L2Argmin, L2ArgminTopK, L2Squared, MisraGriesSketch, TermCounts, TopKSmallest}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** SQL-name registration of graft's native Catalyst expressions, so the
  * engine's functions are first-class in `spark.sql(...)` — the same
  * escape-hatch surface the reference exposes via execute_sql
  * (SURVEY.md §2.3 "reachable"):
  *
  *   cosine_sim(a, b)                  — fused cosine over array<double>
  *   l2_sq(a, b)                       — fused squared L2
  *   topk_smallest(score, id, label, k) — bounded-heap top-k aggregate
  *   cosine_argmax(e, cents)           — nearest centroid id by cosine
  *   l2_argmin(e, cents)               — nearest centroid id by L2
  *   l2_argmin_topk(e, cents, p)       — p nearest centroid ids by L2
  *   adc_lookup(tbl, codes)            — PQ asymmetric-distance score
  *   jl_project(xs, p)                 — signed random projection to p dims
  *   bpe_encode(word, merges)          — greedy BPE tokenization
  *   misra_gries(key, m)               — frequent-items summary aggregate
  *   count_min(key, d, w)              — Count-Min frequency-sketch aggregate
  *   term_counts(tokens)               — per-row (term, tf) postings fold
  *
  * One wiring path: extensions apply at session build, either from a
  * cluster's `spark.sql.extensions=graft.GraftExtensions` or from
  * [[GraftSession.builder]] (every graft main, the benchmark and the
  * test suite). Both put the two rewrites in Spark's operator-
  * optimization batches, so every session optimizes to the same plans.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    // whole-plan optimizer rules, always on once injected: auto
    // range-join grid rewrite, auto top-k window rewrite (kill switch
    // spark.sql.optimizer.excludedRules=graft.plans.TopKRewrite,
    // graft.plans.RangeJoinRewrite)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
  }
}

object GraftFunctions {

  private def info(name: String, clazz: Class[_]): ExpressionInfo =
    new ExpressionInfo(clazz.getName, name)

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case _ => throw new IllegalArgumentException(
      s"$what must be an integer literal, got: $e")
  }

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_sim"), info("cosine_sim", classOf[CosineSim]),
      (args: Seq[Expression]) => {
        require(args.length == 2, "cosine_sim(a, b) takes 2 arguments")
        CosineSim(args(0), args(1))
      }),
    (FunctionIdentifier("l2_sq"), info("l2_sq", classOf[L2Squared]),
      (args: Seq[Expression]) => {
        require(args.length == 2, "l2_sq(a, b) takes 2 arguments")
        L2Squared(args(0), args(1))
      }),
    (FunctionIdentifier("topk_smallest"),
      info("topk_smallest", classOf[TopKSmallest]),
      (args: Seq[Expression]) => {
        require(args.length == 4,
          "topk_smallest(score, id, label, k) takes 4 arguments")
        TopKSmallest(args(0), args(1), args(2), intLit(args(3), "k"))
      }),
    (FunctionIdentifier("cosine_argmax"),
      info("cosine_argmax", classOf[CosineArgmax]),
      (args: Seq[Expression]) => {
        require(args.length == 2, "cosine_argmax(e, cents) takes 2 arguments")
        CosineArgmax(args(0), args(1))
      }),
    (FunctionIdentifier("l2_argmin"),
      info("l2_argmin", classOf[L2Argmin]),
      (args: Seq[Expression]) => {
        require(args.length == 2, "l2_argmin(e, cents) takes 2 arguments")
        L2Argmin(args(0), args(1))
      }),
    (FunctionIdentifier("l2_argmin_topk"),
      info("l2_argmin_topk", classOf[L2ArgminTopK]),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "l2_argmin_topk(e, cents, p) takes 3 arguments")
        L2ArgminTopK(args(0), args(1), intLit(args(2), "p"))
      }),
    (FunctionIdentifier("adc_lookup"),
      info("adc_lookup", classOf[AdcLookup]),
      (args: Seq[Expression]) => {
        require(args.length == 2, "adc_lookup(tbl, codes) takes 2 arguments")
        AdcLookup(args(0), args(1))
      }),
    (FunctionIdentifier("jl_project"),
      info("jl_project", classOf[JlProject]),
      (args: Seq[Expression]) => {
        require(args.length == 2, "jl_project(xs, p) takes 2 arguments")
        JlProject(args(0), intLit(args(1), "p"))
      }),
    (FunctionIdentifier("bpe_encode"),
      info("bpe_encode", classOf[BpeEncode]),
      (args: Seq[Expression]) => {
        require(args.length == 2, "bpe_encode(word, merges) takes 2 arguments")
        BpeEncode(args(0), args(1))
      }),
    (FunctionIdentifier("misra_gries"),
      info("misra_gries", classOf[MisraGriesSketch]),
      (args: Seq[Expression]) => {
        require(args.length == 2, "misra_gries(key, m) takes 2 arguments")
        MisraGriesSketch(args(0), intLit(args(1), "m")).toAggregateExpression()
      }),
    (FunctionIdentifier("term_counts"),
      info("term_counts", classOf[TermCounts]),
      (args: Seq[Expression]) => {
        require(args.length == 1, "term_counts(tokens) takes 1 argument")
        TermCounts(args(0))
      }),
    (FunctionIdentifier("count_min"),
      info("count_min", classOf[CountMinAgg]),
      (args: Seq[Expression]) => {
        require(args.length == 3, "count_min(key, d, w) takes 3 arguments")
        CountMinAgg(args(0), intLit(args(1), "d"), intLit(args(2), "w"))
          .toAggregateExpression()
      }))
}
