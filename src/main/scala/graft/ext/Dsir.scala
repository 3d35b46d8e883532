package graft.ext

import graft.{QueryDef, Tables, Work}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DSIR-style importance resampling — data selection for LM training
  * via hashed n-gram importance weights (Xie et al., "Data Selection
  * for Language Models via Importance Resampling", NeurIPS 2023; the
  * published pipeline RedPajama-v2/DoReMi-era stacks run between raw
  * crawl and training). Given a small TARGET corpus (the distribution
  * you want more of) and the RAW corpus, every raw document gets an
  * importance weight
  *
  *   log w(x) = Σ_features count_x(f) · [ log p̂(bucket(f)) − log q̂(bucket(f)) ]
  *
  * over hashed unigram+bigram feature buckets (p̂ = target bucket
  * distribution, q̂ = raw, both Laplace-smoothed), and selection takes
  * the top-k by weight (Gumbel-top-k at temperature → 0; the
  * deterministic face every other sampling operator here exposes, so
  * the DuckDB oracle replays it exactly).
  *
  * Exactness discipline (the bm25 idf pattern): the per-bucket log
  * ratio — the ONE transcendental — is computed once, fixed-pointed
  * (round(1e6·Δln)), and PUBLISHED as parquet that BOTH the engine's
  * weight pass and the oracle consume; per-doc weights are then pure
  * integer dot products, order-independent and bit-identical across
  * engines. Feature hashing is the repo's portable
  * [[TextAnalysis.tokenHash]] (UBIGINT-replayable in DuckDB),
  * bucketed by unsigned remainder.
  *
  * 100 TB shape: bucket counting is explode → ONE hash-aggregate with
  * map-side combine whose output is bounded by [[Buckets]] (4096 rows),
  * NOT the corpus; the ratio table is 4096 longs ≈ 32 KB, broadcast
  * into a map-only weight projection — the weight pass adds ZERO
  * shuffles to a corpus scan (PlanSpec pins no Exchange). Selection is
  * a global top-k: TakeOrderedAndProject (per-partition heaps), never
  * a full sort.
  */
object Dsir {

  val Buckets = 4096
  val LrScale = 1e6
  val SampleK = 100

  /** Unsigned-remainder bucket of the portable token hash — matches
    * DuckDB's `UBIGINT % Buckets` exactly. */
  def bucketOf(feature: String): Int =
    java.lang.Long.remainderUnsigned(
      TextAnalysis.tokenHash(feature), Buckets.toLong).toInt

  /** All hashed feature buckets of a document: one per token
    * OCCURRENCE (unigrams) plus one per adjacent pair (bigrams,
    * space-joined — same string DuckDB rebuilds with `|| ' ' ||`).
    * Bag semantics, not set: DSIR weights count repeated features.
    *
    * Tokenization is pinned CROSS-ENGINE to the explicit whitespace
    * class `[ \t\n\r\f\x0B]` (≡ Java regex `\s`): the engine
    * regex-trims and splits with Java `\s`, and the oracle SQL spells
    * the identical class out for RE2 — so tab/newline-bordered text
    * tokenizes the same on both sides, not just space-bordered
    * testdata (r13 ADVICE: `String.trim` vs DuckDB space-only `trim`
    * disagreed on such docs, undermining the bit-identical integer
    * dot-product claim). */
  private[graft] def featureBuckets(text: String): Array[Int] = {
    // TextAnalysis.wsTokens: the shared once-compiled trim/split — this
    // runs per document inside the weights UDF (r14 review)
    val w = TextAnalysis.wsTokens(text)
    val out = new Array[Int](w.length + math.max(0, w.length - 1))
    var i = 0
    while (i < w.length) { out(i) = bucketOf(w(i)); i += 1 }
    var j = 0
    while (j < w.length - 1) {
      out(w.length + j) = bucketOf(w(j) + " " + w(j + 1)); j += 1
    }
    out
  }

  private val bucketsUdf = udf { (text: String) => featureBuckets(text) }

  /** Dense fixed-point log-ratio table over all buckets:
    * lr_fp(b) = round(1e6 · (ln((p_b+1)/(P+B)) − ln((q_b+1)/(Q+B)))).
    * Computed driver-side from the two ≤4096-row count collections
    * with StrictMath.log (plus the publish below, this pins one result
    * across JVMs/libms). */
  def logRatioRows(raw: DataFrame, target: DataFrame): Seq[(Int, Long)] = {
    // union-with-tag: ONE explode + ONE ≤Buckets-row aggregate instead
    // of two independent count jobs (r13 verdict #7). Each input is
    // still scanned once — that is inherent to two distinct frames; for
    // the target-IS-subset-of-raw case use [[logRatioRowsFused]], which
    // reads the corpus exactly once (see the choice pin on its doc).
    val rows = graft.Tables.spread(raw.select(col("text")))
      .select(lit(false).as("t"), col("text"))
      .unionByName(graft.Tables.spread(target.select(col("text")))
        .select(lit(true).as("t"), col("text")))
      .select(col("t"), explode(bucketsUdf(col("text"))).as("bucket"))
      .groupBy("bucket")
      .agg(sum(when(!col("t"), 1L).otherwise(0L)).as("q"),
        sum(when(col("t"), 1L).otherwise(0L)).as("p"))
      .collect()
    ratiosOf(
      rows.map(r => r.getInt(0) -> r.getLong(1)).toMap,
      rows.map(r => r.getInt(0) -> r.getLong(2)).toMap)
  }

  /** One-pass variant for the common case where the target is a
    * PREDICATE over the raw corpus (the publish path): one explode,
    * one aggregate emitting both counts per bucket — ONE corpus scan.
    * Choice pin (r13 verdict #7): when the target is a subset of raw
    * expressible as a predicate, use THIS (q counts every raw doc
    * including the target rows — identical to handing
    * [[logRatioRows]] `raw` and `raw.filter(pred)`, ExtSpec-pinned);
    * when the target is a genuinely separate corpus (a curated
    * external sample not stored inside raw), use [[logRatioRows]],
    * whose union-with-tag aggregate still runs one job but must read
    * each frame once. */
  def logRatioRowsFused(raw: DataFrame,
      targetPred: org.apache.spark.sql.Column): Seq[(Int, Long)] = {
    val rows = graft.Tables.spread(
        raw.select(col("doc_id"), col("text")))
      .select(targetPred.as("t"),
        explode(bucketsUdf(col("text"))).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("q"),
        sum(when(col("t"), 1L).otherwise(0L)).as("p"))
      .collect()
    ratiosOf(
      rows.map(r => r.getInt(0) -> r.getLong(1)).toMap,
      rows.map(r => r.getInt(0) -> r.getLong(2)).toMap)
  }

  private def ratiosOf(q: Map[Int, Long],
      p: Map[Int, Long]): Seq[(Int, Long)] = {
    val qTot = (q.values.sum + Buckets).toDouble
    val pTot = (p.values.sum + Buckets).toDouble
    (0 until Buckets).map { b =>
      val lp = StrictMath.log((p.getOrElse(b, 0L) + 1L) / pTot)
      val lq = StrictMath.log((q.getOrElse(b, 0L) + 1L) / qTot)
      b -> Math.round(LrScale * (lp - lq))
    }
  }

  // --- published ratio table (the bm25-idf publish contract) ---------

  // path keyed on Work.publishTag (basename + canonical-path hash),
  // not the bare basename: two corpus dirs sharing a basename must
  // never reuse one ratio table via the _SUCCESS short-circuit
  private def lrPath(dir: String, fingerprint: Option[String]): String =
    s"${Work.dir}/dsir_lr_v1_${Work.publishTag(dir, fingerprint)}"

  private val lrDone = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]

  /** The target slice for the witness keys: every 7th document — a
    * stand-in for "a curated high-quality sample" (target must be
    * SMALL relative to raw; the weights answer "which raw docs look
    * like it"). */
  def targetOf(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 7 === 0)

  /** Publish (bucket, lr_fp) for this sf dir once: deterministic
    * content (StrictMath + fixed hashing), jvm-tagged temp dir renamed
    * into place, a completed table (_SUCCESS) is always valid. Engine
    * weight pass and DuckDB oracle both read THESE bytes. */
  def ensureLogRatios(s: SparkSession, dir: String,
      fingerprint: Option[String] = None): String = {
    graft.SessionCaches.evictStopped(lrDone)(_._1)
    // keyed on the artifact PATH (dir + optional fingerprint, r15
    // verdict #6): a fingerprinted republish of a mutated corpus is a
    // distinct entry; default None keeps the immutable-testdata tag
    lrDone.computeIfAbsent((s, lrPath(dir, fingerprint)), { _ =>
      // Work.publish carries the shared _SUCCESS-gated staging/rename
      // discipline (r15: one helper for every artifact publisher)
      Work.publish(lrPath(dir, fingerprint)) { tmp =>
        val docs = Tables(s, dir, "documents")
        val rows = logRatioRowsFused(docs, col("doc_id") % 7 === 0)
        import s.implicits._
        rows.toDF("bucket", "lr_fp").coalesce(1)
          .write.mode("overwrite").parquet(tmp)
      }
    })
  }

  /** Map-only weight projection: broadcast the 4096-long ratio array
    * into a per-row integer fold — (doc_id, weight_fp, n_feats), no
    * shuffle, no join. `lr` comes from the PUBLISHED parquet so the
    * engine sums the identical integers the oracle joins against. */
  def weights(docs: DataFrame, lr: Array[Long],
      extras: Seq[String] = Nil): DataFrame = {
    require(lr.length == Buckets, s"ratio table must be dense: ${lr.length}")
    val wUdf = udf { (text: String) =>
      val bs = featureBuckets(text)
      var s = 0L
      var i = 0
      while (i < bs.length) { s += lr(bs(i)); i += 1 }
      Array(s, bs.length.toLong)
    }
    // extras (e.g. `source`) ride the projection so downstream
    // aggregates need no join back to the corpus — the pass stays
    // map-only whatever metadata the consumer wants grouped by
    graft.Tables.spread(
      docs.select((col("doc_id") +: col("text") +: extras.map(col)): _*))
      .withColumn("wf", wUdf(col("text")))
      .select((col("doc_id") +: extras.map(col)) :+
        col("wf")(0).as("weight_fp") :+ col("wf")(1).as("n_feats"): _*)
  }

  private[graft] def loadLr(s: SparkSession, path: String): Array[Long] = {
    val out = new Array[Long](Buckets)
    s.read.parquet(path).collect()
      .foreach(r => out(r.getInt(0)) = r.getLong(1))
    out
  }

  private def weightsFor(s: SparkSession, dir: String): DataFrame =
    weights(Tables(s, dir, "documents"),
      loadLr(s, ensureLogRatios(s, dir)))

  // --- oracle SQL ------------------------------------------------------

  private def weightsSql: String = s"""
      WITH toks AS (
        -- coalesce pins the null-text contract to the engine's
        -- (featureBuckets treats null as empty → one ''-token feature);
        -- without it unnest(NULL) would DROP a null-text doc here while
        -- the engine still weights it (r13 review). Trim and split use
        -- the explicit class [ \\t\\n\\r\\f\\x0b] == Java regex \\s,
        -- matching featureBuckets exactly on tab/newline-bordered text
        -- (RE2's \\s and DuckDB's space-only trim() differ from Java).
        SELECT doc_id,
               regexp_split_to_array(
                 regexp_replace(coalesce(text, ''),
                   '^[ \\t\\n\\r\\f\\x0b]+|[ \\t\\n\\r\\f\\x0b]+$$',
                   '', 'g'),
                 '[ \\t\\n\\r\\f\\x0b]+') AS ws
        FROM documents),
      feats AS (
        SELECT doc_id, unnest(ws) AS f FROM toks
        UNION ALL
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(ws) - 1),
                                     i -> ws[i] || ' ' || ws[i + 1])) AS f
        FROM toks),
      fb AS (
        SELECT doc_id,
               CAST(${TextAnalysis.tokenHashSql("f")} % $Buckets AS BIGINT)
                 AS bucket
        FROM feats)
      SELECT doc_id, CAST(sum(r.lr_fp) AS BIGINT) AS weight_fp,
             count(*) AS n_feats
      FROM fb
      JOIN read_parquet('${Work.dir}/dsir_lr_v1_@SF@/*.parquet') r
        USING (bucket)
      GROUP BY 1"""

  val dsirWeights = QueryDef(
    "corpus_dsir_weights",
    (s, dir) => weightsFor(s, dir),
    Some(weightsSql))

  /** Selection face: top-[[SampleK]] raw docs by importance weight,
    * total-ordered (weight desc, doc_id asc) — Gumbel-top-k at
    * temperature → 0, the deterministic replayable variant. Plans as
    * TakeOrderedAndProject over the map-only weight projection. */
  val dsirSample = QueryDef(
    "corpus_dsir_sample",
    (s, dir) => weightsFor(s, dir)
      .orderBy(col("weight_fp").desc, col("doc_id").asc)
      .select("doc_id", "weight_fp")
      .limit(SampleK),
    Some(s"""
      SELECT doc_id, weight_fp FROM ($weightsSql)
      ORDER BY weight_fp DESC, doc_id LIMIT $SampleK"""))

  /** Per-SOURCE target-affinity report (the DSIR → mixture bridge):
    * how much does each crawl source look like the target? n_docs,
    * exact fixed-point mean weight (truncating div — matches this
    * DuckDB's measured `//`), and the count above the selection line
    * (weight > 0 ⟺ more target-like than raw-like under the smoothed
    * model) — the numbers a mixture-reweighting step turns into
    * per-source rates ([[Corpus]] `corpus_mix_*` consume such counts).
    * `source` rides the map-only weight pass, so the whole report is
    * one corpus scan plus one sources-sized aggregate — no join. */
  val dsirMixture = QueryDef(
    "corpus_dsir_mixture",
    (s, dir) => weights(Tables(s, dir, "documents"),
        loadLr(s, ensureLogRatios(s, dir)), extras = Seq("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("weight_fp")).as("wsum"),
        sum(when(col("weight_fp") > 0, 1L).otherwise(0L)).as("n_selected"))
      .select(col("source"), col("n_docs"),
        // overflow-safe exact mean: `wsum * 1000` in LongType would
        // WRAP silently past 2^63 (sum over ~1e7 high-feature docs)
        // where the oracle's HUGEINT arithmetic stays exact. Decompose
        // instead: trunc(w·1000/n) = (w div n)·1000 + (rem·1000) div n
        // with rem = w − (w div n)·n — |rem| < n keeps every product
        // within long, both `div`s truncate toward zero like this
        // DuckDB's `//`, and the identity holds for signed w because
        // quotient and remainder share w's sign (r13 review).
        graft.ops.Relational.meanMilli("wsum", "n_docs")
          .as("mean_weight_milli"),
        col("n_selected")),
    Some(s"""
      WITH w AS ($weightsSql)
      SELECT d.source, count(*) AS n_docs,
             CAST((sum(w.weight_fp) * 1000) // count(*) AS BIGINT)
               AS mean_weight_milli,
             CAST(sum(CASE WHEN w.weight_fp > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_selected
      FROM w JOIN documents d USING (doc_id)
      GROUP BY d.source"""))

  /** Per-source selection QUOTA (r14) — the balanced-mixture variant
    * of [[dsirSample]]: instead of one global top-k (which a single
    * target-like crawl source can monopolize), take the [[QuotaK]]
    * most target-like docs from EACH source — the per-source cap every
    * mixture-controlled selection run applies so the output keeps the
    * source diversity the mixture weights were tuned for. Total order
    * (weight desc, doc_id asc) keeps it deterministic and oracle-able.
    *
    * 100 TB shape: `source` rides the map-only weight projection (no
    * join back to the corpus), and the per-group rank is the exact
    * row_number()-bound window filter [[graft.plans.TopKRewrite]]
    * matches — under the rules-on posture the window becomes a
    * bounded per-group heap carrying ≤ sources×k rows per partition
    * into one exchange, never a corpus sort. */
  val QuotaK = 25

  val dsirQuota = QueryDef(
    "corpus_dsir_quota",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source")
        .orderBy(col("weight_fp").desc, col("doc_id").asc)
      weights(Tables(s, dir, "documents"),
          loadLr(s, ensureLogRatios(s, dir)), extras = Seq("source"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= QuotaK)
        .select("source", "doc_id", "weight_fp", "rn")
    },
    Some(s"""
      WITH w AS ($weightsSql),
      j AS (SELECT d.source, w.doc_id, w.weight_fp
            FROM w JOIN documents d USING (doc_id)),
      r AS (SELECT source, doc_id, weight_fp,
                   row_number() OVER (PARTITION BY source
                     ORDER BY weight_fp DESC, doc_id) AS rn
            FROM j)
      SELECT source, doc_id, weight_fp, CAST(rn AS INTEGER) AS rn
      FROM r WHERE rn <= $QuotaK"""))

  val all: Seq[QueryDef] =
    Seq(dsirWeights, dsirSample, dsirMixture, dsirQuota)
}
