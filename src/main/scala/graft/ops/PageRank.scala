package graft.ops

import graft.{QueryDef, Tables, Work}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixed-point PageRank over the customer↔supplier trade graph — the
  * graph-centrality quality signal large-scale corpus pipelines compute
  * over their link graphs (CommonCrawl-style harmonic/PageRank doc
  * scoring; reference surface: the §2.4 extension tier's "importance
  * scoring" generalized to graphs). Brin–Page iteration, public
  * literature.
  *
  * Determinism contract (what makes a float-native algorithm
  * hash-oracle-able): scores are fixed-point BIGINT throughout.
  * score⁰(v) = S; per round, each node ships
  * `(score·85 DIV 100) DIV outdeg` along every out-edge (integer DIV
  * twice — both engines evaluate the identical truncation) and
  * collects `S·15 DIV 100` plus the integer SUM of arriving
  * contributions. Integer sums are order-independent, so partial
  * aggregation cannot perturb the result. Rounds are FIXED (3) and the
  * oracle unrolls them as chained CTEs — aggregation inside a
  * recursive CTE is not portable SQL.
  *
  * 100 TB shape: edges are built once (one distinct over the
  * fact-table join), persisted, and re-joined per round — each round
  * is one partitioned equi-join (scores ⋈ edges on src) plus one
  * map-side-combined sum on dst; co-partitioning scores and edges on
  * the node id makes rounds shuffle-stable (the scores frame is
  * node-count-sized, orders of magnitude below the fact table). No
  * driver-side state: the loop materializes nothing wider than the
  * node set.
  */
object PageRank {

  val Scale = 1000000L  // initial per-node mass (µ-units)
  val Rounds = 3

  /** Directed edge list of the trade graph: customer c traded with
    * supplier s ⇒ edges 2c → 2s+1 and 2s+1 → 2c (even ids = customers,
    * odd = suppliers — disjoint by construction, integer arithmetic
    * both engines share). Distinct: multiplicity is not edge weight
    * here. */
  def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"),
        (col("l_suppkey") * 2 + 1).as("sp"))
      .distinct()
    pairs.select(col("c").as("src"), col("sp").as("dst"))
      .unionAll(pairs.select(col("sp").as("src"), col("c").as("dst")))
  }

  def pagerank(s: SparkSession, dir: String,
      rounds: Int = Rounds): DataFrame =
    pagerankOnEdges(tradeEdges(s, dir), rounds)

  /** df-in core over a symmetric (src, dst) edge list — the form
    * GrowthSpec's `graph_pagerank` pin scales directly. */
  def pagerankOnEdges(edgesIn: DataFrame,
      rounds: Int = Rounds): DataFrame = {
    // edges + outdeg computed once; persist through the rounds, then
    // materialize the node-sized result and free the cache (the same
    // leak-free loop shape as the connected-components fixed point)
    val edges = edgesIn.persist()
    // node-sized, reused by the initial scores AND every round's
    // contribution join — r14 (verdict #6 profile): the old shape
    // joined outdeg onto every EDGE up front (`withDeg`), building and
    // caching an edge-sized 3-column frame whose join+persist cost as
    // much as all three rounds together (~1.6 s of the 4 s key). The
    // per-edge outdeg is only ever consumed as score/outdeg, which is
    // a NODE-level quantity: fold it into the node-sized contribution
    // frame below and the edge list stays 2 columns, cached once,
    // joined per round against a node-sized (broadcast at test SF,
    // co-partitioned at scale) side.
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .persist()
    var scores = outdeg.select(col("src").as("node"),
      lit(Scale).as("score_fp"))
    for (_ <- 1 to rounds) {
      // per-round contribution per NODE: node-sized join (scores and
      // outdeg are both one-row-per-node; either side broadcasts)
      val contrib = scores
        .join(outdeg, col("node") === col("src"))
        .select(col("node"),
          expr(s"score_fp * 85 DIV 100 DIV outdeg").as("c"))
      // edges are symmetric, so EVERY node has an in-edge: contrib's
      // dst set IS the node set, and no keep-the-zeros left join is
      // needed — each round is one equi-join over the cached 2-column
      // edge list plus one map-side-combined sum
      scores = edges
        .join(contrib, col("src") === col("node"))
        .select(col("dst"), col("c"))
        .groupBy("dst").agg(sum("c").as("in_fp"))
        .select(col("dst").as("node"),
          (lit(Scale * 15 / 100) + col("in_fp")).as("score_fp"))
    }
    val out = Work.materialize("pagerank", scores)
    outdeg.unpersist()
    edges.unpersist()
    out
  }

  private def oracleSqlText: String = {
    val base = s"""
      WITH pairs AS (SELECT DISTINCT o_custkey * 2 AS c,
                            l_suppkey * 2 + 1 AS sp
                     FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (SELECT c AS src, sp AS dst FROM pairs
                UNION ALL
                SELECT sp AS src, c AS dst FROM pairs),
      outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
      wd AS (SELECT e.src, e.dst, o.outdeg
             FROM edges e JOIN outdeg o ON e.src = o.src),
      s0 AS (SELECT src AS node, CAST(${Scale} AS BIGINT) AS score_fp
             FROM outdeg)"""
    val rounds = (1 to Rounds).map { r =>
      val prev = if (r == 1) "s0" else s"s${r - 1}"
      s"""
      c$r AS (SELECT wd.dst, sum(score_fp * 85 // 100 // outdeg) AS in_fp
              FROM wd JOIN $prev ON wd.src = $prev.node
              GROUP BY wd.dst),
      s$r AS (SELECT dst AS node,
                     CAST(${Scale * 15 / 100} + in_fp AS BIGINT) AS score_fp
              FROM c$r)"""
    }.mkString(",")
    s"$base,$rounds\n      SELECT node, score_fp FROM s$Rounds"
  }

  val pagerankQuery = QueryDef(
    "graph_pagerank",
    (s, dir) => pagerank(s, dir),
    Some(oracleSqlText))

  val all: Seq[QueryDef] = Seq(pagerankQuery)
}
