package graft.ext

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over embedding columns (SURVEY.md §2.4): exact
  * brute-force top-k as the correctness baseline, plus two
  * approximate scale paths — random-hyperplane LSH bucketing and an
  * IVF-style coarse quantizer. At 100 TB the exact path's crossJoin is
  * the thing to avoid: both ANN variants turn it into an equi-join on a
  * bucket key (one shuffle), probing only a fraction of the reference
  * set per query.
  */
object Similarity {

  val K = 10

  /** Query set = vec_id % 10 == 0; references = all other vectors.
    * The query side is [[graft.Tables.spread]]: its downstream is
    * always per-row-heavy scoring against a broadcast reference side
    * (|R| cosines per query row), and the bench's single-file scan
    * would pin all of it to one core — identity at cluster scale. */
  def split(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = Tables(s, dir, "embeddings")
      .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
    (graft.Tables.spread(emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("qid"), col("e").as("qe"))),
      emb.filter(col("vec_id") % 10 =!= 0)
        .select(col("vec_id").as("rid"), col("e").as("re")))
  }

  /** Exact top-k by cosine via the bounded-heap aggregate: largest-k =
    * smallest-k of the negated score, ties broken by rid asc — ranking
    * identical to the window form ([[bruteForceTopKWindow]], equality
    * asserted in ExtSpec). Map-side partials keep k entries per (qid,
    * partition); the shuffle never carries the full |Q|×|R| score set.
    */
  def bruteForceTopK(queries: DataFrame, refs: DataFrame, k: Int): DataFrame =
    queries.crossJoin(broadcast(refs))
      .select(col("qid"), col("rid"),
        (-Dedup.cosine(col("qe"), col("re"))).as("negcos"))
      .groupBy("qid")
      .agg(graft.functions.TopK.smallestK(
        col("negcos"), col("rid"), lit(0), k).as("top"))
      .select(col("qid"), posexplode(col("top.id")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("col").as("rid"))

  /** Scored + ranked cosine frame — the shared window subtree of the
    * naive top-k spellings ([[bruteForceTopKWindow]] and the paged
    * form in [[topkPagedAuto]]); each caller applies its rank filter. */
  private def rankedCosine(queries: DataFrame, refs: DataFrame): DataFrame = {
    val w = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("rid").asc)
    queries.crossJoin(broadcast(refs))
      .select(col("qid"), col("rid"),
        Dedup.cosine(col("qe"), col("re")).as("cos"))
      .withColumn("rank", row_number().over(w))
  }

  /** The window full-sort form (the v1 plan) — equivalence witness. */
  def bruteForceTopKWindow(queries: DataFrame, refs: DataFrame,
      k: Int): DataFrame =
    rankedCosine(queries, refs)
      .filter(col("rank") <= k)
      .select("qid", "rank", "rid")

  val topkCosine = QueryDef(
    "topk_cosine",
    (s, dir) => {
      val (q, r) = split(s, dir)
      bruteForceTopK(q, r, K)
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings WHERE vec_id % 10 = 0),
           r AS (SELECT vec_id AS rid, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings WHERE vec_id % 10 <> 0),
           d AS (SELECT qid, rid,
                        list_cosine_similarity(q.e, r.e) AS cos
                 FROM q CROSS JOIN r)
      SELECT qid, rank, rid FROM
        (SELECT qid, rid, row_number() OVER (PARTITION BY qid
                 ORDER BY cos DESC, rid) AS rank FROM d)
      WHERE rank <= $K"""))

  /** The SAME query as [[topkCosine]], but written the way a USER
    * naturally writes top-k — the crossJoin + `row_number() <= k`
    * window form ([[bruteForceTopKWindow]]) — and optimized by the
    * injected [[graft.plans.TopKRewrite]] whole-plan rule into the
    * bounded-heap aggregate plan (round-10 verdict punch #1, SURVEY §4's
    * named custom-strategy candidate). PlanSpec pins that the rewrite
    * fires (no Window, no per-group sort in the physical plan; the
    * unrewritten control keeps the Window); this key proves it
    * end-to-end against the same DuckDB oracle as the hand-built
    * aggregate form. The key sets no conf and registers no rule, so
    * a direct library call leaves the caller's session exactly as it
    * found it (GuardSpec pins that); the rewrite fires wherever the
    * session registered it.
    */
  val topkCosineAuto = QueryDef(
    "topk_cosine_auto",
    (s, dir) => {
      val (q, r) = split(s, dir)
      bruteForceTopKWindow(q, r, K)
    },
    topkCosine.oracle)

  /** Pagination page 2 (`rank BETWEEN k+1 AND 2k`) through the SAME
    * rewrite (round-12: the one top-k spelling that still blocked after
    * the BETWEEN-1 fix). The heap is sized by the UPPER bound (2k rows
    * per group cross the exchange, not the |Q|·|R| score set) and the
    * lower bound survives as a residual filter over the rebuilt rank
    * column — so "give me results 11–20" costs the same plan shape as
    * "give me the top 20". PlanSpec pins no-Window + the residual
    * filter; the DuckDB oracle replays the full window pagination.
    */
  val topkPagedAuto = QueryDef(
    "topk_paged_auto",
    (s, dir) => {
      val (q, r) = split(s, dir)
      rankedCosine(q, r)
        .filter(col("rank").between(K + 1, 2 * K))
        .select("qid", "rank", "rid")
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings WHERE vec_id % 10 = 0),
           r AS (SELECT vec_id AS rid, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings WHERE vec_id % 10 <> 0),
           d AS (SELECT qid, rid,
                        list_cosine_similarity(q.e, r.e) AS cos
                 FROM q CROSS JOIN r)
      SELECT qid, rank, rid FROM
        (SELECT qid, rid, row_number() OVER (PARTITION BY qid
                 ORDER BY cos DESC, rid) AS rank FROM d)
      WHERE rank BETWEEN ${K + 1} AND ${2 * K}"""))

  // --- random-hyperplane LSH ANN --------------------------------------

  /** Deterministic pseudo-random plane component in [-1, 1) — no RNG,
    * so plans are reproducible and executors agree without shipping
    * planes. A splitmix64-style finalizer (full avalanche: three multiply/xor-shift
    * rounds) over the (table, plane, dim) coordinates. The mixing
    * quality is load-bearing: the previous single-multiply mix left
    * consecutive dims on a near-linear ramp, making every "random"
    * hyperplane of a table essentially PARALLEL (measured max |cos|
    * between plane normals: 1.000) — the signature space collapsed to a
    * handful of buckets and the bucketed cosine join degraded to
    * quadratic (measured 295× cost at 8× data; fixed: uniform buckets,
    * linear growth).
    */
  private def planeComponent(table: Int, plane: Int, dim: Int): Double = {
    var h = table.toLong * 0x9E3779B97F4A7C15L +
      plane.toLong * 0xBF58476D1CE4E5B9L + dim.toLong * 0x94D049BB133111EBL
    h ^= h >>> 30; h *= 0xBF58476D1CE4E5B9L
    h ^= h >>> 27; h *= 0x94D049BB133111EBL
    h ^= h >>> 31
    (h >>> 11).toDouble / (1L << 52).toDouble - 1.0
  }

  val LshTables = 8
  val LshPlanes = 6 // 64 buckets per table

  /** All sign-signature bucket ids (one per table) for a vector, as one
    * compact UDF — an unrolled column-expression form builds a
    * 3000-node expression tree that defeats codegen. Planes are
    * materialized once per executor from the deterministic generator.
    * Bucket id = (table << planes) | signature, so tables never share
    * bucket ids regardless of plane count.
    */
  private def bucketsUdf(dim: Int, tables: Int = LshTables,
      planes: Int = LshPlanes) = {
    val planeVecs: Array[Array[Array[Double]]] =
      Array.tabulate(tables, planes, dim)(planeComponent)
    udf { (v: Seq[Double]) =>
      val arr = v.toArray
      Array.tabulate(tables) { t =>
        var sig = 0L
        var p = 0
        while (p < planes) {
          var dot = 0.0
          var d = 0
          while (d < arr.length) { dot += arr(d) * planeVecs(t)(p)(d); d += 1 }
          if (dot >= 0) sig |= (1L << p)
          p += 1
        }
        (t.toLong << planes) | sig
      }
    }
  }

  /** (id, bucket) rows: a vector's sign-signature bucket in each of the
    * 8 LSH tables. Shared by [[lshTopK]] and Dedup.embeddingCosine —
    * bucket ids are deterministic, and invariant under positive scaling
    * of the vector (signs of dot products don't change), which is what
    * makes the bucketed near-dup path exact on scaled-copy pairs.
    */
  def signBuckets(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, tables: Int = LshTables,
      planes: Int = LshPlanes): DataFrame =
    df.select(col(idCol),
      explode(bucketsUdf(dim, tables, planes)(col(vecCol))).as("bucket"))

  /** ANN top-k: candidates = refs sharing any of the 8 per-table sign
    * buckets with the query; exact cosine re-rank within candidates.
    * Scale: equi-join on (bucket), shuffle ∝ candidates not |Q|×|R|.
    */
  def lshTopK(queries: DataFrame, refs: DataFrame, k: Int, dim: Int): DataFrame = {
    val buckets = bucketsUdf(dim)
    def withBuckets(df: DataFrame, vecCol: String, idCol: String): DataFrame =
      df.select(col(idCol), col(vecCol),
        explode(buckets(col(vecCol))).as("bucket"))
    val qb = withBuckets(queries, "qe", "qid").drop("qe")
    val rb = withBuckets(refs, "re", "rid").drop("re")
    // candidate ids only through join+distinct (cheap shuffle keys);
    // vectors joined back onto the deduped pair set
    val cands = qb.join(rb, "bucket")
      .select("qid", "rid").distinct()
      .join(queries, "qid").join(refs, "rid")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("rid").asc)
    cands.withColumn("cos", Dedup.cosine(col("qe"), col("re")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "rid")
  }

  /** DuckDB replay of [[bucketsUdf]]'s bucket ids for a DOUBLE[] column:
    * the deterministic plane components are embedded as list literals
    * (shortest round-trip repr — parses back to the identical double),
    * and list_dot_product folds in the same index order as the UDF's
    * loop, so the SIGN of every projection agrees bit-for-bit. ~130 KB
    * of SQL, all mechanical literals. */
  private def bucketSqlExprs(vecCol: String, dim: Int): Seq[String] =
    (0 until LshTables).map { t =>
      val bits = (0 until LshPlanes).map { p =>
        val plane = (0 until dim)
          .map(d => planeComponent(t, p, d).toString).mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product($vecCol, $plane) >= 0.0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
      s"(CAST(${t.toLong << LshPlanes} AS BIGINT) + $bits)"
    }

  val topkLsh = QueryDef(
    "topk_cosine_lsh",
    (s, dir) => {
      val (q, r) = split(s, dir)
      lshTopK(q, r, K, dim = 64)
    },
    // Fully replayable: candidate generation is deterministic sign-LSH
    // (planes embedded as literals, signs agree exactly) and the
    // re-rank cosine is the same arithmetic as the green topk_cosine
    // oracle. The LSH is "approximate" only w.r.t. BRUTE FORCE — the
    // plan itself is a pure function of the input.
    Some(s"""
      WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings WHERE vec_id % 10 = 0),
           r AS (SELECT vec_id AS rid, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings WHERE vec_id % 10 <> 0),
           qb AS (SELECT qid, unnest([${bucketSqlExprs("e", 64).mkString(",\n             ")}]) AS bucket FROM q),
           rb AS (SELECT rid, unnest([${bucketSqlExprs("e", 64).mkString(",\n             ")}]) AS bucket FROM r),
           cands AS (SELECT DISTINCT qid, rid FROM qb JOIN rb USING (bucket))
      SELECT qid, rank, rid FROM (
        SELECT c.qid, c.rid,
               row_number() OVER (PARTITION BY c.qid
                 ORDER BY list_cosine_similarity(q.e, r.e) DESC, c.rid)
                 AS rank
        FROM cands c JOIN q USING (qid) JOIN r USING (rid))
      WHERE rank <= $K"""))

  // --- IVF-style ANN --------------------------------------------------

  val IvfProbes = 4

  /** Lloyd-iteration k-means over the reference set — the real coarse
    * quantizer for IVF (replacing the every-16th stand-in when cluster
    * quality matters). Deterministic: init = first k refs in rid order,
    * ties keep the lowest centroid id. Per iteration: one broadcast
    * assignment pass + one (cid, dim)-keyed mean — both scale shapes
    * (the centroid set is k×dim, always driver/broadcast-sized).
    * Bit-level reproducibility across partitionings is NOT claimed
    * (float mean order varies); centroids only steer candidate
    * generation — exactness lives in the verify/re-rank stage.
    */
  def kmeansCentroids(refs: DataFrame, k: Int, iters: Int = 3): DataFrame = {
    val spark = refs.sparkSession
    var cents: Array[Array[Double]] = refs.orderBy("rid").limit(k)
      .select("re").collect().map(_.getSeq[Double](0).toArray)
    for (_ <- 0 until iters) {
      // assignment via the native codegen'd L2Argmin over the iteration's
      // centroids as a one-row broadcast quantizer — same tie rule as the
      // Scala-UDF loop this replaced (lowest index wins via strict <,
      // ascending visit), no per-iteration broadcast-variable churn and
      // no Seq boxing per row
      import spark.implicits._
      val centDf = cents.zipWithIndex
        .map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
        .toDF("cid", "ce")
      val qt = centDf
        .agg(sort_array(collect_list(struct(col("cid"), col("ce")))).as("cents"))
      val moved = refs.crossJoin(broadcast(qt))
        .select(graft.functions.VectorFunctions
            .l2Argmin(col("re"), col("cents")).cast("int").as("cid"),
          posexplode(col("re")))
        .groupBy("cid", "pos").agg(avg("col").as("m"))
        .groupBy("cid")
        .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"),
          transform(col("pm"), x => x.getField("m")).as("ce"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .toMap
      // a centroid that lost every member keeps its position
      cents = cents.indices.map(i => moved.getOrElse(i, cents(i))).toArray
    }
    val sp = spark
    import sp.implicits._
    cents.zipWithIndex.map { case (c, i) => (i.toLong, c) }
      .toSeq.toDF("cid", "ce")
  }

  /** IVF: coarse centroids (every 16th reference vector as the
    * deterministic default; pass [[kmeansCentroids]] output for the
    * trained quantizer); every ref is assigned to its nearest centroid
    * (the inverted file); a query probes its nprobe nearest centroids'
    * lists only. Scale: the centroid set is broadcast; the probe is an
    * equi-join on centroid id.
    */
  def ivfTopK(queries: DataFrame, refs: DataFrame, k: Int,
      centroidsOpt: Option[DataFrame] = None): DataFrame = {
    val centroids = centroidsOpt.getOrElse(
      refs.filter(col("rid") % 16 === 0)
        .select(col("rid").as("cid"), col("re").as("ce")))
    // one-row broadcast quantizer; assignment and probe are then pure
    // map work — native argmin expressions over the array, one output
    // row per input row. The crossJoin + per-key row_number windows
    // this replaced materialized and SHUFFLED n·k scored rows twice
    // (once per side) before the real work started — the dominant cost
    // at scale, and measurable even at sf0.1 ([[ivfTopKWindow]], the
    // equivalence twin, pinned equal in SimilaritySpec).
    val qt = centroids
      .agg(sort_array(collect_list(struct(col("cid"), col("ce")))).as("cents"))
    val assigned = refs.crossJoin(broadcast(qt))
      .select(graft.functions.VectorFunctions
          .l2Argmin(col("re"), col("cents")).as("cid"),
        col("rid"), col("re"))
    val probes = queries.crossJoin(broadcast(qt))
      .select(col("qid"), col("qe"),
        explode(graft.functions.VectorFunctions
          .l2ArgminTopK(col("qe"), col("cents"), IvfProbes)).as("cid"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("rid").asc)
    probes.join(assigned, "cid")
      .withColumn("cos", Dedup.cosine(col("qe"), col("re")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "rid")
  }

  /** The window-rank IVF formulation, kept as the equivalence twin the
    * native-argmin plan must reproduce row-for-row: same (distance,
    * cid) tie order at both the assignment argmin and the ≤nprobe
    * probe rank. */
  def ivfTopKWindow(queries: DataFrame, refs: DataFrame, k: Int,
      centroidsOpt: Option[DataFrame] = None): DataFrame = {
    val centroids = centroidsOpt.getOrElse(
      refs.filter(col("rid") % 16 === 0)
        .select(col("rid").as("cid"), col("re").as("ce")))
    val wAssign = Window.partitionBy("rid").orderBy(col("cdist").asc, col("cid").asc)
    val assigned = refs.crossJoin(broadcast(centroids))
      .withColumn("cdist", graft.ml.Knn.sqDist(col("re"), col("ce")))
      .withColumn("arn", row_number().over(wAssign))
      .filter(col("arn") === 1)
      .select("cid", "rid", "re")
    val wProbe = Window.partitionBy("qid").orderBy(col("cdist").asc, col("cid").asc)
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("cdist", graft.ml.Knn.sqDist(col("qe"), col("ce")))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= IvfProbes)
      .select("qid", "qe", "cid")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("rid").asc)
    probes.join(assigned, "cid")
      .withColumn("cos", Dedup.cosine(col("qe"), col("re")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "rid")
  }

  val topkIvf = QueryDef(
    "topk_cosine_ivf",
    (s, dir) => {
      val (q, r) = split(s, dir)
      ivfTopK(q, r, K)
    },
    // The IVF plan is fully replayable in SQL: the default quantizer is
    // deterministic (every-16th ref), assignment/probe argmins order by
    // (L2, cid) — list_distance is monotone with sqDist so the argmin
    // agrees — and the re-rank cosine is the same arithmetic the green
    // topk_cosine oracle already replays via list_cosine_similarity.
    Some(s"""
      WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings WHERE vec_id % 10 = 0),
           r AS (SELECT vec_id AS rid, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings WHERE vec_id % 10 <> 0),
           c AS (SELECT rid AS cid, e AS ce FROM r WHERE rid % 16 = 0),
           assigned AS (
             SELECT cid, rid, e FROM (
               SELECT c.cid, r.rid, r.e,
                      row_number() OVER (PARTITION BY r.rid
                        ORDER BY list_distance(r.e, c.ce), c.cid) AS arn
               FROM r CROSS JOIN c)
             WHERE arn = 1),
           probes AS (
             SELECT qid, qe, cid FROM (
               SELECT q.qid, q.e AS qe, c.cid,
                      row_number() OVER (PARTITION BY q.qid
                        ORDER BY list_distance(q.e, c.ce), c.cid) AS prn
               FROM q CROSS JOIN c)
             WHERE prn <= $IvfProbes)
      SELECT qid, rank, rid FROM (
        SELECT p.qid, a.rid,
               row_number() OVER (PARTITION BY p.qid
                 ORDER BY list_cosine_similarity(p.qe, a.e) DESC, a.rid)
                 AS rank
        FROM probes p JOIN assigned a USING (cid))
      WHERE rank <= $K"""))

  /** Hard-negative mining — contrastive-training data prep: for each
    * query, the k most-similar references with a DIFFERENT label (the
    * confusable impostors a contrastive or reranker objective trains
    * against). Same bounded-heap shape as [[bruteForceTopK]] with the
    * label-mismatch predicate inside the join; at 100 TB the candidate
    * stage swaps to the LSH/IVF bucketed paths unchanged.
    */
  def hardNegatives(queries: DataFrame, refs: DataFrame, k: Int): DataFrame =
    queries.crossJoin(broadcast(refs))
      .filter(col("qlabel") =!= col("rlabel"))
      .select(col("qid"), col("rid"),
        (-Dedup.cosine(col("qe"), col("re"))).as("negcos"))
      .groupBy("qid")
      .agg(graft.functions.TopK.smallestK(
        col("negcos"), col("rid"), lit(0), k).as("top"))
      .select(col("qid"), posexplode(col("top.id")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("col").as("neg_rid"))

  val mineHardNegatives = QueryDef(
    "mine_hard_negatives",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
      val q = emb.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("qid"), col("e").as("qe"),
          col("label").as("qlabel"))
      val r = emb.filter(col("vec_id") % 10 =!= 0)
        .select(col("vec_id").as("rid"), col("e").as("re"),
          col("label").as("rlabel"))
      hardNegatives(q, r, k = 3)
    },
    Some("""
      WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS e,
                        label AS qlabel
                 FROM embeddings WHERE vec_id % 10 = 0),
           r AS (SELECT vec_id AS rid, CAST(embedding AS DOUBLE[]) AS e,
                        label AS rlabel
                 FROM embeddings WHERE vec_id % 10 <> 0),
           d AS (SELECT qid, rid,
                        list_cosine_similarity(q.e, r.e) AS cos
                 FROM q CROSS JOIN r WHERE qlabel <> rlabel)
      SELECT qid, rank, rid AS neg_rid FROM
        (SELECT qid, rid, row_number() OVER (PARTITION BY qid
                 ORDER BY cos DESC, rid) AS rank FROM d)
      WHERE rank <= 3"""))

  // --- signed random projection (Johnson–Lindenstrauss) ---------------

  val JlP = 16 // projected dims (d=64 → 4× FLOP cut in the scan stage)
  val JlC = 80 // candidates per query surviving to the exact rerank

  /** Two-stage ANN by signed random projection: (1) project both sides
    * to [[JlP]] dims with the codegen'd engine-portable
    * [[graft.functions.JlProject]] (pure map work, no shuffle) and take
    * each query's [[JlC]] nearest references by PROJECTED L2 through
    * the bounded heap — the scan stage now costs p/d of the exact
    * scan's FLOPs and its shuffle carries ≤ C ids per (query,
    * partition); (2) exact integer L2 rerank of only the C candidates.
    * Complementary to LSH/IVF: those prune by bucket equality and can
    * miss across boundaries, JL scores EVERY reference cheaply and
    * prunes by rank, so an exact duplicate (projected distance 0) is
    * recalled with probability 1 at any C ≥ 1 (pinned in ExtSpec).
    * Measured on the uniform-sphere worst case (sf0.01): recall@10 =
    * 0.54 at p=16, C=80 — gaussian-plane parity; clustered real
    * corpora sit far higher. Everything is integer-scaled, so the
    * DuckDB oracle replays both stages bit-for-bit — candidate-set
    * ties at the C boundary included (rid-asc in both engines).
    * 100 TB: stage 1 is the memory-bandwidth-bound pass — at p=16 the
    * projected corpus is 4× smaller than raw and can additionally be
    * IVF/LSH-bucketed in projected space; stage 2 touches C·|Q| rows.
    */
  /** @param queries (qid, qe: array<double>)  @param refs (rid, re) */
  def jlTopK(queries: DataFrame, refs: DataFrame, k: Int,
      c: Int = JlC): DataFrame = {
    val qs = queries.select(col("qid"), Embeddings.intScale(col("qe")).as("qs"))
    val rs = refs.select(col("rid"), Embeddings.intScale(col("re")).as("sc"))
    val qp = qs.select(col("qid"),
      graft.functions.VectorFunctions.jlProject(col("qs"), JlP).as("qy"))
    val rp = rs.select(col("rid"),
      graft.functions.VectorFunctions.jlProject(col("sc"), JlP).as("ry"))
    val cand = rp.crossJoin(broadcast(qp))
      .select(col("qid"),
        graft.functions.VectorFunctions.l2Sq(col("qy"), col("ry")).as("pd"),
        col("rid"))
      .groupBy("qid")
      .agg(graft.functions.TopK.smallestK(
        col("pd"), col("rid"), lit(0), c).as("cand"))
      .select(col("qid"), explode(col("cand.id")).as("rid"))
    cand.join(broadcast(rs), "rid")
      .join(broadcast(qs), "qid")
      .select(col("qid"),
        graft.functions.VectorFunctions.l2Sq(col("qs"), col("sc")).as("d"),
        col("rid"))
      .groupBy("qid")
      .agg(graft.functions.TopK.smallestK(
        col("d"), col("rid"), lit(0), k).as("top"))
      .select(col("qid"), posexplode(col("top.id")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("col").as("rid"))
  }

  val annRandomProjection = QueryDef(
    "ann_random_projection",
    (s, dir) => {
      val (q, r) = split(s, dir)
      jlTopK(q, r, K)
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS qid,
                        list_transform(CAST(embedding AS DOUBLE[]),
                                       v -> round(v * 1000)) AS qs
                 FROM embeddings WHERE vec_id % 10 = 0),
      r AS (SELECT vec_id AS rid,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  v -> round(v * 1000)) AS sc
            FROM embeddings WHERE vec_id % 10 <> 0),
      g0 AS (SELECT j, i,
                    (i * 2654435761 + j * 40503 + 9973) % 2147483647 AS h0
             FROM (SELECT unnest(range($JlP)) AS j)
             CROSS JOIN (SELECT unnest(range(64)) AS i)),
      g1 AS (SELECT j, i, h0, (h0 * h0 + i + j) % 2147483647 AS h1 FROM g0),
      sgn AS (SELECT j, i,
                     CASE WHEN ((h1 * h1 + h0) % 2147483647) % 2 = 0
                          THEN 1 ELSE -1 END AS s
              FROM g1),
      qp AS (SELECT qid, j, sum(s * qs[i + 1]) AS y
             FROM q CROSS JOIN sgn GROUP BY qid, j),
      rp AS (SELECT rid, j, sum(s * sc[i + 1]) AS y
             FROM r CROSS JOIN sgn GROUP BY rid, j),
      pd AS (SELECT qid, rid, sum((qp.y - rp.y) * (qp.y - rp.y)) AS pd
             FROM qp JOIN rp USING (j) GROUP BY qid, rid),
      cand AS (SELECT qid, rid FROM (
                 SELECT qid, rid, row_number() OVER (PARTITION BY qid
                        ORDER BY pd, rid) AS rn FROM pd)
               WHERE rn <= $JlC),
      ex AS (SELECT c.qid, c.rid,
                    list_sum(list_transform(range(1, 65),
                      i -> (q.qs[i] - r.sc[i]) * (q.qs[i] - r.sc[i]))) AS d
             FROM cand c JOIN q ON c.qid = q.qid JOIN r ON c.rid = r.rid)
      SELECT qid, rank, rid FROM (
        SELECT qid, rid, row_number() OVER (PARTITION BY qid
               ORDER BY d, rid) AS rank FROM ex)
      WHERE rank <= $K"""))

  val all: Seq[QueryDef] =
    Seq(topkCosine, topkCosineAuto, topkPagedAuto, topkLsh, topkIvf,
      mineHardNegatives, annRandomProjection)
}
