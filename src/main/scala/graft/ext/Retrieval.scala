package graft.ext

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BM25 retrieval over the corpus — the index-and-search step of a
  * training-data pipeline (hard-negative mining, more-like-this
  * expansion, query-document relevance for curriculum sampling).
  * Reference surface: the reference's pipelines stop at per-doc stats;
  * this is the retrieval layer those stats exist to feed (SURVEY.md
  * §2.4 extension surface; BM25 per Robertson–Walker–Jones, public
  * literature).
  *
  * Float discipline (the part that makes BM25 oracle-able): a BM25
  * score is a float SUM over matched terms, and float sums are
  * order-dependent — two engines summing in different orders can
  * disagree in ulps and flip a rank. The engine therefore quantizes
  * each per-(term, doc) contribution to fixed-point BIGINT
  * (`round(idf_fp × tf_saturation)`) BEFORE summing: integer sums are
  * order-independent, so both engines produce bit-identical scores.
  * Inside one contribution only IEEE-exact steps remain — ×, ÷, + on
  * doubles are correctly rounded, and both engines evaluate the SAME
  * expression tree on the SAME exact integer inputs (tf, dl, idf_fp)
  * and the same `sum(int)/count` avgdl, so every intermediate double is
  * bit-identical. The one transcendental (ln in idf) is computed ONCE,
  * in Spark, and PUBLISHED as a fixed-point parquet both the engine and
  * the DuckDB oracle consume — no cross-engine (or cross-libm) ln ever
  * enters the compare.
  */
object Retrieval {

  // BM25 constants k1=1.2, b=0.75 appear inline as the exact literals
  // the oracle SQL also spells (2.2 = k1+1, 0.25 = 1−b, 1.2 = k1,
  // 0.75 = b) so both engines parse identical doubles and build the
  // same expression tree.
  val TopKDocs = 5
  val QueryDocMod = 50
  val QueryTerms = 10
  val IdfScale = 1e6

  /** (did, term, tf, dl) postings with exact integer term frequencies
    * and the doc's token length on every posting row — computed
    * entirely PER ROW. `doc_id` is unique in `documents`, so the
    * groupBy(did, term) a naive postings build shuffles on is really a
    * within-row fold: [[graft.functions.TermCounts]] does it in one
    * hash pass per document and this frame is a narrow map stage. At
    * 100 TB that deletes the pipeline's largest shuffle (~10¹²
    * (doc, term) pairs); dl riding along deletes the dl-join shuffle
    * with it. Docs with no tokens (null/blank text) drop here — the
    * indexed set, same as the oracle's unnest semantics. */
  private def postingsOf(docs: DataFrame): DataFrame =
    graft.Tables.spread(docs)
      .select(col("doc_id").as("did"),
        graft.functions.TermCounts.termCounts(
          TextAnalysis.tokens(col("text"))).as("tc"))
      // NO size() > 0 filter here: explode already emits zero rows for
      // empty/null arrays, and a filter on the aliased expression gets
      // pushed below the Project, making Catalyst evaluate the
      // tokenize+fold TWICE per row (once in the Filter's substituted
      // predicate, once in the projection) — on the exact stage this
      // plan exists to make cheap
      .select(col("did"),
        aggregate(col("tc"), lit(0L), (a, x) => a + x.getField("tf"))
          .as("dl"),
        explode(col("tc")).as("p"))
      .select(col("did"), col("dl"),
        col("p.term").as("term"), col("p.tf").as("tf"))

  /** One-row (ndocs, toks) — avgdl's exact integer inputs. A second
    * narrow pass over the corpus (count + sum of per-row token counts,
    * map-side partials into one row) — scan-bound, shuffle-free; the
    * alternative (re-aggregating the postings by did) would re-shuffle
    * the postings this plan exists to keep unshuffled. */
  private def statsOf(docs: DataFrame): DataFrame =
    docs
      .select(size(filter(TextAnalysis.tokens(col("text")),
        t => length(t) > 0)).cast("long").as("dl"))
      .filter(col("dl") > 0)
      .agg(count(lit(1)).as("ndocs"), sum("dl").as("toks"))

  // _v2: schema grew (ndocs, toks) columns — a fixed-name published
  // table must version its path, or a stale 3-column parquet from an
  // earlier build would satisfy the _SUCCESS check and fail the read
  private def idfPath(dir: String): String =
    s"${graft.Work.dir}/bm25_idf_v2_${graft.Work.publishTag(dir)}"

  private val idfDone = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]

  /** Publish (term, df, idf_fp) to the fixed per-sf path the oracle SQL
    * embeds; same deterministic-content publish contract as the codec
    * rasters (Multimodal.ensureRaster) and the BPE merge table: build
    * into a jvm-tagged temp dir, rename into place, a completed table
    * (_SUCCESS) is always valid. idf_fp = round(1e6·ln(1 + (N−df+0.5)/
    * (df+0.5))) — the BM25+ idf, strictly positive, fixed-point.
    * The SCORING path reads this parquet back rather than recomputing,
    * so engine and oracle consume identical idf bytes even across JVMs
    * whose `Math.log` could differ (libm variance is real across
    * platforms; the publish pins one result).
    */
  /** (term, df, idf_fp, ndocs, toks) computed in-plan — the frame
    * [[ensureIdf]] materializes, and the df-in form GrowthSpec's
    * `bm25_topk` pin scales directly. ndocs/toks (avgdl's exact integer
    * inputs) ride on every row so the SCORING path needs no second
    * corpus pass for stats — at 100 TB that deletes a full table scan
    * from every query. */
  def idfOf(docs: DataFrame): DataFrame = {
    postingsOf(docs).groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(statsOf(docs)))
      .select(col("term"), col("df"),
        round(lit(IdfScale) * log(lit(1.0) +
          (col("ndocs").cast("double") - col("df").cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5))))
          .cast("long").as("idf_fp"),
        col("ndocs"), col("toks"))
  }

  def ensureIdf(s: SparkSession, dir: String): String = {
    graft.SessionCaches.evictStopped(idfDone)(_._1)
    idfDone.computeIfAbsent((s, dir), { _ =>
      // unified onto Work.publish (one _SUCCESS-gated, Hadoop-FS
      //-portable commit discipline; this site predated it, r16
      // verdict #1) — the stage body only runs when the fixed
      // oracle-read path is incomplete
      graft.Work.publish(idfPath(dir)) { tmp =>
        idfOf(Tables(s, dir, "documents"))
          .coalesce(1).write.mode("overwrite").parquet(tmp)
      }
    })
  }

  /** More-like-this BM25 top-k: every doc with `doc_id % qMod == 0` is
    * a query (its distinct term set), scored against every OTHER doc it
    * shares a term with, top [[TopKDocs]] by (score_fp desc, did asc).
    *
    * Plan shape, and what survives 100 TB:
    *  - postings (did, term, tf, dl): PER-ROW — doc_id is unique, so
    *    term counting is a within-row fold ([[graft.functions
    *    .TermCounts]]) and dl a within-row sum; no postings shuffle,
    *    no dl join, ever;
    *  - idf join on term: vocab-sized, broadcast;
    *  - the query set joins BROADCAST on term — the inverted-index
    *    restriction: only docs sharing a term are ever scored, so the
    *    candidate shuffle is the posting lists of the query's terms,
    *    not |Q|×|D|;
    *  - per-(qid, did) integer sum: one shuffle with map-side combine;
    *  - top-k per qid: bounded-heap [[graft.functions.TopKSmallest]] —
    *    partial heaps keep ≤ k per partition, no full sort, no Window.
    */
  def bm25TopK(s: SparkSession, dir: String,
      k: Int = TopKDocs, qMod: Int = QueryDocMod): DataFrame =
    bm25Of(Tables(s, dir, "documents"),
      s.read.parquet(ensureIdf(s, dir)), k, qMod)

  /** df-in core: score `docs` against the given (term, df, idf_fp)
    * table. A query uses only its [[QueryTerms]] most SALIENT terms
    * (tf desc, df asc, term asc — the tfidf_topterms ranking), the
    * standard more-like-this restriction: stop-like high-df terms
    * contribute least to the score but drag the longest posting lists
    * into the candidate join, so dropping them cuts the fan-out where
    * it is widest. The per-(doc, term) contribution is computed ONCE
    * before the query fan-out (it is query-independent), so the wide
    * join only sums pre-quantized integers. */
  def bm25Of(docs: DataFrame, idf: DataFrame,
      k: Int = TopKDocs, qMod: Int = QueryDocMod): DataFrame = {
    val posted = postingsOf(docs)
    val qw = org.apache.spark.sql.expressions.Window
      .partitionBy("qid")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    // query docs are 1/qMod of the corpus, so the window shuffle is
    // small by construction; the per-row postings form means this
    // subtree re-tokenizes only the query slice it keeps
    // both joins broadcast the vocab-sized idf frame (column pruning
    // projects each copy down to the fields that join needs)
    val qterms = posted
      .filter(col("did") % qMod === 0)
      .join(broadcast(idf), "term")
      .select(col("did").as("qid"), col("term"), col("tf"), col("df"))
      .withColumn("rk", row_number().over(qw))
      .filter(col("rk") <= QueryTerms)
      .select("qid", "term")

    // dl rides on every posting row; idf carries ndocs/toks, so avgdl
    // is inline arithmetic on the joined row: the per-(doc, term)
    // contribution is a pure map stage — the first shuffle in the
    // whole scoring path is the (qid, did) sum below
    val contribs = posted
      .join(broadcast(idf), "term")
      .select(col("did"), col("term"),
        round(col("idf_fp").cast("double") *
          ((col("tf").cast("double") * lit(2.2)) /
            (col("tf").cast("double") + lit(1.2) *
              (lit(0.25) + lit(0.75) *
                (col("dl").cast("double") /
                  (col("toks").cast("double") / col("ndocs").cast("double")))))))
          .cast("long").as("c"))

    contribs
      .join(broadcast(qterms), "term")
      .filter(col("did") =!= col("qid"))
      .groupBy("qid", "did")
      .agg(sum("c").as("score_fp"))
      .groupBy("qid")
      .agg(graft.functions.TopK.smallestK(
        -col("score_fp").cast("double"), col("did"), lit(0), k).as("arr"))
      .select(col("qid"), posexplode(col("arr")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("did"),
        (-col("col.score")).cast("long").as("score_fp"))
  }

  val bm25TopKQuery = QueryDef(
    "bm25_topk",
    (s, dir) => bm25TopK(s, dir),
    Some(s"""
      WITH w AS (SELECT doc_id AS did,
                        unnest(regexp_split_to_array(trim(text), '\\s+'))
                          AS term
                 FROM documents),
           wf AS (SELECT did, term FROM w WHERE length(term) > 0),
           tf AS (SELECT did, term, count(*) AS tf
                  FROM wf GROUP BY did, term),
           dl AS (SELECT did, CAST(sum(tf) AS BIGINT) AS dl
                  FROM tf GROUP BY did),
           st AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
                  FROM dl),
           idf AS (SELECT term, df, idf_fp
                   FROM read_parquet('${graft.Work.dir}/bm25_idf_v2_@SF@/*.parquet')),
           q AS (SELECT qid, term FROM (
                   SELECT tf.did AS qid, tf.term,
                          row_number() OVER (PARTITION BY tf.did
                            ORDER BY tf.tf DESC, idf.df ASC, tf.term)
                            AS rk
                   FROM tf JOIN idf USING (term)
                   WHERE tf.did % $QueryDocMod = 0)
                 WHERE rk <= $QueryTerms),
           contrib AS (
             SELECT q.qid, tf.did,
                    CAST(round(CAST(idf.idf_fp AS DOUBLE) *
                      ((CAST(tf.tf AS DOUBLE) * 2.2) /
                       (CAST(tf.tf AS DOUBLE) + 1.2 *
                        (0.25 + 0.75 *
                         (CAST(dl.dl AS DOUBLE) / st.avgdl))))) AS BIGINT)
                      AS c
             FROM tf
             JOIN dl USING (did)
             JOIN idf USING (term)
             JOIN q ON q.term = tf.term
             CROSS JOIN st
             WHERE tf.did <> q.qid),
           sc AS (SELECT qid, did, CAST(sum(c) AS BIGINT) AS score_fp
                  FROM contrib GROUP BY qid, did)
      SELECT qid, rank, did, score_fp FROM
        (SELECT qid, did, score_fp,
                CAST(row_number() OVER (PARTITION BY qid
                  ORDER BY score_fp DESC, did) AS INT) AS rank
         FROM sc)
      WHERE rank <= $TopKDocs"""))

  // --- hybrid retrieval: sparse BM25 + dense cosine, RRF-fused --------

  val HybridK = 10     // per-channel candidate depth
  val FusedK = 5       // fused results per query
  val RrfK0 = 60       // the standard RRF dampening constant
  val RrfScale = 1000000000L

  /** Reciprocal-rank fusion of the two retrieval channels every modern
    * training-data / RAG pipeline runs side by side: BM25 over the text
    * (exact term match) and cosine over the embeddings (semantic
    * match), fused by rank only — RRF(d) = Σ_chan ⌊scale/(k₀+rank)⌋.
    * Rank-space fusion is what makes the operator oracle-able: the
    * float cosine never leaves its channel (only its RANKS do, and the
    * rank order is pinned by the same tie-break the topk_cosine oracle
    * already hash-matches), and the fused score is a sum of exact
    * integers, so the whole fusion is bit-deterministic.
    *
    * 100 TB shape: each channel is k-bounded per query BEFORE fusion —
    * the fusion join handles |Q|·k rows per channel, never corpus-sized
    * data; channels scale independently (sparse = the shuffle-free
    * postings plan above; dense = swap the exact crossJoin for the
    * LSH/IVF/PQ paths in [[Similarity]] — same (qid, rank, did)
    * contract). Full-outer on (qid, did): a doc ranked by only one
    * channel keeps that channel's contribution.
    */
  def hybridRrf(s: SparkSession, dir: String): DataFrame =
    hybridRrfOf(
      bm25TopK(s, dir, HybridK, QueryDocMod),
      Tables(s, dir, "embeddings")
        .withColumn("e", col("embedding").cast("array<double>")))

  /** df-in core: fuse a sparse (qid, did, rank, …) channel with the
    * dense cosine channel over `emb` (vec_id, e) — the form GrowthSpec's
    * `hybrid_rrf` pin scales directly. */
  def hybridRrfOf(sparseTopK: DataFrame, emb: DataFrame): DataFrame = {
    val sparse = sparseTopK
      .select(col("qid"), col("did"), col("rank").as("rs"))
    val q = emb.filter(col("vec_id") % QueryDocMod === 0)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val r = emb.select(col("vec_id").as("rid"), col("e").as("re"))
    val dense = q.crossJoin(broadcast(r))
      .filter(col("rid") =!= col("qid"))
      .select(col("qid"), col("rid"),
        (-Dedup.cosine(col("qe"), col("re"))).as("negcos"))
      .groupBy("qid")
      .agg(graft.functions.TopK.smallestK(
        col("negcos"), col("rid"), lit(0), HybridK).as("top"))
      .select(col("qid"), posexplode(col("top.id")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rd"),
        col("col").as("did"))
    // DIV: integer division on both engines — no float reciprocal can
    // perturb the fused order
    val fused = sparse.join(dense, Seq("qid", "did"), "full_outer")
      .select(col("qid"), col("did"),
        (coalesce(expr(s"$RrfScale DIV ($RrfK0 + rs)"), lit(0L)) +
          coalesce(expr(s"$RrfScale DIV ($RrfK0 + rd)"), lit(0L)))
          .as("rrf_fp"))
    fused.groupBy("qid")
      .agg(graft.functions.TopK.smallestK(
        -col("rrf_fp").cast("double"), col("did"), lit(0), FusedK).as("arr"))
      .select(col("qid"), posexplode(col("arr")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("did"),
        (-col("col.score")).cast("long").as("rrf_fp"))
  }

  val hybridRrfQuery = QueryDef(
    "hybrid_rrf_topk",
    (s, dir) => hybridRrf(s, dir),
    Some(s"""
      WITH w AS (SELECT doc_id AS did,
                        unnest(regexp_split_to_array(trim(text), '\\s+'))
                          AS term
                 FROM documents),
           wf AS (SELECT did, term FROM w WHERE length(term) > 0),
           tf AS (SELECT did, term, count(*) AS tf
                  FROM wf GROUP BY did, term),
           dl AS (SELECT did, CAST(sum(tf) AS BIGINT) AS dl
                  FROM tf GROUP BY did),
           st AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
                  FROM dl),
           idf AS (SELECT term, df, idf_fp
                   FROM read_parquet('${graft.Work.dir}/bm25_idf_v2_@SF@/*.parquet')),
           qt AS (SELECT qid, term FROM (
                   SELECT tf.did AS qid, tf.term,
                          row_number() OVER (PARTITION BY tf.did
                            ORDER BY tf.tf DESC, idf.df ASC, tf.term)
                            AS rk
                   FROM tf JOIN idf USING (term)
                   WHERE tf.did % $QueryDocMod = 0)
                 WHERE rk <= $QueryTerms),
           contrib AS (
             SELECT qt.qid, tf.did,
                    CAST(round(CAST(idf.idf_fp AS DOUBLE) *
                      ((CAST(tf.tf AS DOUBLE) * 2.2) /
                       (CAST(tf.tf AS DOUBLE) + 1.2 *
                        (0.25 + 0.75 *
                         (CAST(dl.dl AS DOUBLE) / st.avgdl))))) AS BIGINT)
                      AS c
             FROM tf
             JOIN dl USING (did)
             JOIN idf USING (term)
             JOIN qt ON qt.term = tf.term
             CROSS JOIN st
             WHERE tf.did <> qt.qid),
           sc AS (SELECT qid, did, CAST(sum(c) AS BIGINT) AS score_fp
                  FROM contrib GROUP BY qid, did),
           sp AS (SELECT qid, did, rank FROM
                    (SELECT qid, did,
                            row_number() OVER (PARTITION BY qid
                              ORDER BY score_fp DESC, did) AS rank
                     FROM sc)
                  WHERE rank <= $HybridK),
           qv AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS e
                  FROM embeddings WHERE vec_id % $QueryDocMod = 0),
           rv AS (SELECT vec_id AS rid, CAST(embedding AS DOUBLE[]) AS e
                  FROM embeddings),
           dn AS (SELECT qid, did, rank FROM
                    (SELECT qid, rid AS did,
                            row_number() OVER (PARTITION BY qid
                              ORDER BY list_cosine_similarity(qv.e, rv.e)
                                DESC, rid) AS rank
                     FROM qv CROSS JOIN rv WHERE rid <> qid)
                  WHERE rank <= $HybridK),
           fused AS (
             SELECT coalesce(sp.qid, dn.qid) AS qid,
                    coalesce(sp.did, dn.did) AS did,
                    coalesce($RrfScale // ($RrfK0 + sp.rank), 0) +
                    coalesce($RrfScale // ($RrfK0 + dn.rank), 0) AS rrf_fp
             FROM sp FULL OUTER JOIN dn
               ON sp.qid = dn.qid AND sp.did = dn.did)
      SELECT qid, rank, did, rrf_fp FROM
        (SELECT qid, did, rrf_fp,
                CAST(row_number() OVER (PARTITION BY qid
                  ORDER BY rrf_fp DESC, did) AS INT) AS rank
         FROM fused)
      WHERE rank <= $FusedK"""))

  val all: Seq[QueryDef] = Seq(bm25TopKQuery, hybridRrfQuery)
}
