package graft.ext

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level statistics and ordering operators for training-data
  * pipelines (SURVEY.md §2.4 extension surface): vocabulary building,
  * TF-IDF term ranking, and deterministic corpus shuffling — the steps
  * between a curated corpus and a tokenizer/training run.
  *
  * All outputs are integers/strings with total-order tie-breaks so the
  * DuckDB oracle reproduces them exactly (QueryDef float discipline).
  */
object Corpus {

  val VocabSize = 200
  val TfIdfTopK = 3
  val ShuffleShards = 8
  val MgCounters = 30

  /** Corpus vocabulary: global token counts, top-N by (count desc,
    * token asc) — the frequency pass a tokenizer-training or
    * stopword-mining step runs first.
    *
    * Scale: explode → one shuffle on token with map-side combine
    * (shuffle volume is O(distinct tokens × partitions), not O(tokens));
    * the top-N is TakeOrderedAndProject (per-partition bounded heaps,
    * no global sort). The tie-break on the unique token string makes
    * the LIMIT boundary deterministic.
    */
  /** df-in/df-out core over any (…, text) frame — the library API; the
    * QueryDef binds it to the test `documents` table. */
  def vocabOf(docs: DataFrame, topN: Int = VocabSize): DataFrame =
    docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(topN)

  val buildVocab = QueryDef(
    "build_vocab",
    (s, dir) => vocabOf(Tables(s, dir, "documents")),
    Some(s"""
      SELECT token, count(*) AS cnt
      FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
            FROM documents)
      WHERE length(token) > 0
      GROUP BY token
      ORDER BY cnt DESC, token
      LIMIT $VocabSize"""))

  /** UNK-replacement normalization (r14) — the vocabulary-closing pass
    * classic tokenizer/embedding training runs: every token outside
    * the top-[[UnkVocabK]] corpus vocabulary is replaced with the
    * `<unk>` sentinel, preserving token order, and each doc reports
    * its OOV count. [[UnkVocabK]] = 20 sits BELOW the synthetic
    * corpus's ~31-word vocabulary so the replacement genuinely fires;
    * the boundary is deterministic (count desc, token asc — the
    * [[vocabOf]] tie rule both engines share).
    *
    * 100 TB shape: the vocab is a bounded top-N (TakeOrderedAndProject
    * over one map-side-combined token count) that BROADCASTS onto the
    * exploded corpus as a left join — membership never shuffles the
    * corpus; the rebuild is the boilerplate-removal pattern, one
    * groupBy(doc_id) whose state is a single document (position-sorted
    * struct collect), no window. */
  val UnkVocabK = 20

  val unkReplace = QueryDef(
    "text_unk_replace",
    (s, dir) => {
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      val vocab = vocabOf(docs, UnkVocabK)
        .select(col("token").as("tok"), lit(true).as("inv"))
      val ex = docs
        .select(col("doc_id"),
          posexplode(TextAnalysis.tokens(col("text")))
            .as(Seq("pos", "tok")))
        .filter(length(col("tok")) > 0)
      ex.join(broadcast(vocab), Seq("tok"), "left")
        .select(col("doc_id"), col("pos"),
          col("inv").isNotNull.as("kept"),
          when(col("inv").isNotNull, col("tok"))
            .otherwise(lit("<unk>")).as("out"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("kept"), 0L).otherwise(1L)).as("n_unk"),
          array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("out")))),
            x => x.getField("out")), " ").as("text_unk"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
        FROM documents),
      ex AS (SELECT doc_id,
                    unnest(generate_series(1, len(ws))) AS pos,
                    unnest(ws) AS tok
             FROM toks),
      exf AS (SELECT * FROM ex WHERE length(tok) > 0),
      vocab AS (SELECT tok FROM (SELECT tok, count(*) AS cnt
                                 FROM exf GROUP BY tok)
                ORDER BY cnt DESC, tok LIMIT $UnkVocabK)
      SELECT e.doc_id, count(*) AS n_tokens,
             CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unk,
             string_agg(CASE WHEN v.tok IS NULL THEN '<unk>' ELSE e.tok END,
                        ' ' ORDER BY e.pos) AS text_unk
      FROM exf e LEFT JOIN vocab v ON e.tok = v.tok
      GROUP BY e.doc_id"""))

  /** Per-document top-k salient terms, TF-IDF-style but with a purely
    * integer deterministic ranking: high term frequency first, then LOW
    * document frequency (the IDF signal), then the term string. Floats
    * never enter the ranking, so engines cannot disagree on ties.
    *
    * Scale: tf = one shuffle on (doc_id, term); df reuses tf with a
    * shuffle on term; the df join is on term (AQE broadcasts it when the
    * vocabulary is small); the per-doc rank windows partition by doc_id
    * — all partitioned, nothing global.
    */
  /** df-in/df-out core over any (doc_id, text) frame. */
  def tfidfOf(docs: DataFrame, k: Int = TfIdfTopK): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfc, "term")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("doc_id", "term", "tf", "df", "rnk")
  }

  val tfidfTopTerms = QueryDef(
    "tfidf_topterms",
    (s, dir) => tfidfOf(Tables(s, dir, "documents")),
    Some(s"""
      WITH t AS (SELECT doc_id,
                        unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
                 FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf
             FROM t WHERE length(term) > 0 GROUP BY doc_id, term),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
      SELECT doc_id, term, tf, df, rnk FROM
        (SELECT tf.doc_id, tf.term, tf.tf, df.df,
                row_number() OVER (PARTITION BY tf.doc_id
                  ORDER BY tf.tf DESC, df.df ASC, tf.term) AS rnk
         FROM tf JOIN df USING (term))
      WHERE rnk <= $TfIdfTopK"""))

  /** Deterministic corpus shuffle into training shards: every doc gets a
    * pseudo-random 32-bit position from the engine-portable Knuth hash
    * (graft.ops.PipelineOps.hash32 — no RNG, reproducible under retries
    * and engine swaps), a shard = hash mod N, and a contiguous rank
    * within its shard. This is the "globally shuffle the corpus, write N
    * shard files, fixed order within each shard" step before training —
    * epoch order is a pure function of doc_id.
    *
    * Scale: the rank window partitions by shard (parallel, never a
    * single-partition global window); at 100 TB shards are sized so one
    * shard's ranking fits an executor's sort spill budget (raise N with
    * the data; shard count = output file count).
    */
  /** df-in/df-out core over any frame with a non-negative doc_id. */
  def shuffleOf(docs: DataFrame, shards: Int = ShuffleShards): DataFrame = {
    val h = graft.ops.PipelineOps.hash32(col("doc_id"))
    val w = Window.partitionBy("shard")
      .orderBy(col("h").asc, col("doc_id").asc)
    docs
      .select(col("doc_id"), h.as("h"),
        pmod(h, lit(shards.toLong)).as("shard"))
      .withColumn("pos", row_number().over(w))
      .select("doc_id", "shard", "pos")
  }

  val shuffleDeterministic = QueryDef(
    "shuffle_deterministic",
    (s, dir) => shuffleOf(Tables(s, dir, "documents")),
    Some(s"""
      WITH h AS (SELECT doc_id,
                        ((doc_id % 2147483648) * 2654435761) % 4294967296 AS h
                 FROM documents)
      SELECT doc_id, h % $ShuffleShards AS shard,
             row_number() OVER (PARTITION BY h % $ShuffleShards
                                ORDER BY h, doc_id) AS pos
      FROM h"""))

  /** Corpus composition report: docs / tokens / chars per (source, lang)
    * with ROLLUP subtotals — the "what is in my corpus" mixture report
    * every training-data audit starts from. NULL grouping markers are
    * coalesced to 'ALL' on both sides (q7_rollup discipline) so null
    * ordering cannot perturb the compare.
    * Scale: one shuffle on the tiny (source, lang) key space with
    * map-side combine; the rollup adds grouping-set rows, not passes.
    */
  val statsBySource = QueryDef(
    "corpus_stats_by_source",
    (s, dir) => {
      Tables(s, dir, "documents")
        .select(col("source"), col("lang"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"),
          length(col("text")).cast("long").as("n_chars"))
        .rollup("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"))
        .select(coalesce(col("source"), lit("ALL")).as("source"),
          coalesce(col("lang"), lit("ALL")).as("lang"),
          col("n_docs"), col("n_tokens"), col("n_chars"))
    },
    Some("""
      SELECT coalesce(source, 'ALL') AS source,
             coalesce(lang, 'ALL') AS lang,
             count(*) AS n_docs,
             CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
               AS n_tokens,
             CAST(sum(length(text)) AS BIGINT) AS n_chars
      FROM documents
      GROUP BY ROLLUP (source, lang)"""))

  /** Mixture rebalancing: per-language deterministic keep rates (keep
    * all of the rare languages, downsample the dominant one) through the
    * engine-portable hash bucket — the "hit the target data mixture"
    * sampling step, keyed on corpus metadata rather than a numeric
    * label (sample_stratified's axis). Per-row, shuffle-free,
    * reproducible under retries and engine swaps.
    */
  val mixSample = QueryDef(
    "corpus_mix_sample",
    (s, dir) => {
      val rate = when(col("lang") === "en", 50)
        .when(col("lang") === "zh", 100)
        .otherwise(25)
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"))
        .filter(graft.ops.PipelineOps.hashBucket(col("doc_id")) < rate)
    },
    Some("""
      SELECT doc_id, source, lang FROM documents
      WHERE (((doc_id % 2147483648) * 2654435761) % 4294967296) % 100 <
            CASE WHEN lang = 'en' THEN 50
                 WHEN lang = 'zh' THEN 100
                 ELSE 25 END"""))

  val QuotaPerSource = 20

  /** Per-source quota cap: keep each source's top [[QuotaPerSource]]
    * docs by a deterministic ranking (n_chars desc, doc_id asc) — the
    * other half of data mixing. [[mixSample]] thins by RATE (keep x%
    * of a language); this caps by COUNT (no source may contribute more
    * than N docs), the rule that stops one crawl dump from dominating
    * a mixture regardless of its size. Integer ranking only — no float
    * can reorder ties across engines.
    *
    * Scale: the bounded-heap aggregate keeps ≤ N entries per (source,
    * partition) map-side, so the one shuffle carries O(sources·N·
    * partitions) heap entries, never the corpus — the same plan that
    * replaced row_number windows in the top-k family (a window form
    * sorts every source's full doc list).
    */
  val quotaSample = QueryDef(
    "quota_sample_by_source",
    (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
        .groupBy("source")
        .agg(graft.functions.TopK.smallestK(
          -col("n_chars").cast("double"), col("doc_id"), lit(0),
          QuotaPerSource).as("top"))
        .select(col("source"), posexplode(col("top")))
        .select(col("source"), (col("pos") + 1).cast("int").as("rank"),
          col("col.id").as("doc_id"),
          (-col("col.score")).cast("long").as("n_chars")),
    Some(s"""
      SELECT source, rank, doc_id, n_chars FROM
        (SELECT source, doc_id, n_chars,
                CAST(row_number() OVER (PARTITION BY source
                  ORDER BY n_chars DESC, doc_id) AS INT) AS rank
         FROM documents)
      WHERE rank <= $QuotaPerSource"""))

  /** Temperature-based mixture weights (r12) — the third face of data
    * mixing next to [[mixSample]] (rate) and [[quotaSample]] (cap):
    * per-source sampling weights ∝ n^α with α = 1/2, the standard
    * upsample-the-tail rebalancing (multilingual/LLaMA-style `p^α`
    * renormalization) that keeps big sources from drowning small ones
    * without a hard cap. α = 1/2 is deliberate: `floor(sqrt(n))` is
    * EXACT cross-engine integer arithmetic (IEEE sqrt is correctly
    * rounded — `pow(n, 0.7)` is not, and one ULP would flip a DIV),
    * so weights, ppm shares, per-source doc quotas for a fixed budget,
    * and the implied keep-rates all replay bit-for-bit.
    *
    * Scale: one count per source with map-side combine + a one-row
    * total broadcast — the result is sources-sized metadata at any
    * corpus size; the selection mechanics it parameterizes are the
    * hash-rate filter [[mixSample]] already witnesses.
    */
  val MixBudgetDocs = 1000L

  val mixTemperature = QueryDef(
    "corpus_mix_temperature",
    (s, dir) => {
      val counts = Tables(s, dir, "documents")
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("weight", floor(sqrt(col("n_docs"))).cast("long"))
      // total as an unpartitioned window over the SOURCES-sized
      // aggregate — a second agg subtree would re-scan the corpus
      // (Spark does not dedupe shared subtrees; r12 review). The
      // single-partition window frame is sources-sized metadata.
      counts
        .withColumn("tw", sum("weight").over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .withColumn("quota_docs", expr(s"($MixBudgetDocs * weight) div tw"))
        .select(col("source"), col("n_docs"), col("weight"),
          expr("weight * 1000000L div tw").as("share_ppm"),
          col("quota_docs"),
          least(lit(1000000L),
            expr("quota_docs * 1000000L div n_docs")).as("keep_ppm"))
    },
    Some(s"""
      WITH c AS (SELECT source, count(*) AS n_docs FROM documents
                 GROUP BY 1),
           w AS (SELECT source, n_docs,
                        CAST(floor(sqrt(n_docs)) AS BIGINT) AS weight
                 FROM c),
           t AS (SELECT CAST(sum(weight) AS BIGINT) AS tw FROM w)
      SELECT source, n_docs, weight,
             CAST(weight * 1000000 // tw AS BIGINT) AS share_ppm,
             CAST(($MixBudgetDocs * weight) // tw AS BIGINT) AS quota_docs,
             CAST(least(1000000, (($MixBudgetDocs * weight) // tw) * 1000000
               // n_docs) AS BIGINT) AS keep_ppm
      FROM w CROSS JOIN t"""))

  val PostingMinDf = 5

  /** Inverted index: term → sorted posting list of doc_ids, for terms
    * appearing in at least [[PostingMinDf]] docs — the retrieval-index
    * build step (BM25/keyword search over the corpus). Posting lists are
    * sorted arrays so both engines produce identical values.
    * Scale: distinct (term, doc) pairs then one shuffle on term; the
    * df floor is computed in the same aggregation (no second pass). At
    * 100 TB posting lists of stop-like terms get long — the df floor
    * caps the explode upstream, and a production variant shards a hot
    * term's postings by doc-range (same groupBy with a composite key).
    */
  /** df-in/df-out core over any (doc_id, text) frame. */
  def invertedIndexOf(docs: DataFrame, minDf: Int = PostingMinDf): DataFrame =
    docs
      .select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term")
      // posting list serialized to one string: the compare gate sorts
      // and hashes column values, which raw array cells break
      .agg(count(lit(1)).as("df"),
        concat_ws(",", sort_array(collect_list(col("doc_id"))))
          .as("postings"))
      .filter(col("df") >= minDf)

  val invertedIndex = QueryDef(
    "inverted_index",
    (s, dir) => invertedIndexOf(Tables(s, dir, "documents")),
    Some(s"""
      WITH t AS (SELECT doc_id,
                        unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS term
                 FROM documents)
      SELECT term, count(*) AS df,
             array_to_string(list_sort(list(doc_id)), ',') AS postings
      FROM t WHERE length(term) > 0
      GROUP BY term
      HAVING count(*) >= $PostingMinDf"""))

  val BpePairTopN = 100

  /** Tokenizer-training step: corpus-wide counts of adjacent character
    * pairs inside words (the statistic a BPE trainer maximizes per merge
    * round), top-N by (count desc, pair asc). One explode per character
    * position, then the same bounded top-N shape as [[buildVocab]].
    * Scale: the pair space is tiny (alphabet²), so map-side combine
    * collapses the shuffle to O(pairs × partitions); iterating merge
    * rounds re-runs this count on the re-segmented corpus.
    */
  val bpePairCounts = QueryDef(
    "bpe_pair_counts",
    (s, dir) => {
      Tables(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
        .filter(length(col("word")) >= 2)
        .select(explode(transform(
          sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(BpePairTopN)
    },
    Some(s"""
      WITH w AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
                 FROM documents),
      p AS (SELECT unnest(list_transform(generate_series(1, length(word) - 1),
                     i -> word[i : i + 1])) AS pair
            FROM w WHERE length(word) >= 2)
      SELECT pair, count(*) AS cnt
      FROM p GROUP BY pair
      ORDER BY cnt DESC, pair
      LIMIT $BpePairTopN"""))

  /** Non-distinct word bigrams of a text column — occurrence list, not
    * a set (an LM statistic counts every occurrence). A compact UDF:
    * the chained higher-order array expressions are interpreted
    * per-element (~1 ms/doc, the measured trap TextAnalysis.shingles
    * documents), ~100× slower than this sliding window. */
  private val bigramsUdf =
    udf { (text: String) =>
      // wsTokens: shared once-compiled trim/split (r14) — occurrence
      // list, NOT distinct (an LM statistic counts every occurrence).
      // Hand-rolled window (r20): Iterator.sliding allocates one
      // ArraySeq per window — identical output, less allocation.
      val w = TextAnalysis.wsTokens(text)
      if (w.length < 2) Array.empty[String]
      else {
        val out = new Array[String](w.length - 1)
        var i = 0
        while (i < out.length) {
          out(i) = new java.lang.StringBuilder(
            w(i).length + w(i + 1).length + 1)
            .append(w(i)).append(' ').append(w(i + 1)).toString
          i += 1
        }
        out
      }
    }

  private[graft] def bigrams(text: org.apache.spark.sql.Column) =
    bigramsUdf(text)

  /** Bigram language-model quality signal — the KenLM-style fluency
    * filter in integer arithmetic: per doc, its bigram occurrence
    * count, the sum of corpus-wide frequencies of those bigrams (high
    * = the doc is made of common constructions), and its hapax count
    * (bigrams occurring nowhere else in the corpus — a high hapax
    * ratio flags gibberish/boilerplate-mangled text). Integer-only so
    * the oracle replays it exactly; a real pipeline thresholds on
    * sum_df/n_bigrams.
    *
    * Scale: one explode + one shuffle on the bigram with map-side
    * combine for the frequency table, one shuffle back on doc_id —
    * the decontamination/vocab shape, never per-doc LM inference.
    */
  /** df-in core of [[bigramLm]] — per-doc bigram LM statistics;
    * [[ccnetBuckets]] composes it with the tercile split. */
  def lmStatsOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val inv = docs
      .select(col("doc_id"), explode(bigrams(col("text"))).as("bg"))
    val freq = inv.groupBy("bg").agg(count(lit(1)).as("c"))
    inv.join(freq, "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("c")).as("sum_df"),
        sum((col("c") === 1).cast("long")).as("n_hapax"))
  }

  val bigramLm = QueryDef(
    "text_bigram_lm",
    (s, dir) => lmStatsOf(Tables(s, dir, "documents")),
    Some(s"""
      WITH inv AS (
        SELECT doc_id, unnest(list_transform(
                 generate_series(1, len(ws) - 1),
                 i -> ws[i] || ' ' || ws[i + 1])) AS bg
        FROM (SELECT doc_id, ${TextAnalysis.wsSplitSql("text")} AS ws
              FROM documents)
        WHERE len(ws) >= 2),
      freq AS (SELECT bg, count(*) AS c FROM inv GROUP BY bg)
      SELECT doc_id, count(*) AS n_bigrams,
             CAST(sum(c) AS BIGINT) AS sum_df,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax
      FROM inv JOIN freq USING (bg)
      GROUP BY doc_id"""))

  /** CCNet-style fluency TERCILES (r14) — the head/middle/tail split
    * CCNet (Wenzek et al. 2020) applies with a KenLM perplexity: rank
    * every document by a corpus-relative fluency statistic and bucket
    * the corpus into thirds, so downstream training keeps head+middle
    * and drops the gibberish tail. The statistic here is the exact
    * integer mean bigram document-frequency in milli-units
    * (higher = built from more common constructions — the repo's
    * oracle-able stand-in for inverse perplexity, from [[lmStatsOf]]).
    *
    * Exactness: tercile thresholds are COUNT-based, not approximate —
    * t1/t2 are the smallest fluency values whose cumulative doc count
    * reaches ceil(N/3) / ceil(2N/3); ties at a boundary all land in
    * the lower bucket on both engines (the `<=` CASE), so the split is
    * deterministic and hash-oracle-able even when bucket sizes deviate
    * from N/3 under ties.
    *
    * 100 TB shape: one bigram explode + two doc_id/bg-keyed combines
    * (the [[bigramLm]] shape), then the threshold pass runs on the
    * VALUE-DOMAIN histogram — groupBy(fluency_milli) is bounded by
    * distinct statistic values, not corpus rows, and the cumulative
    * window runs over that bounded frame (the same bounded-input
    * global-window class as the KS statistic, ops/Quality.scala). The
    * two thresholds broadcast back onto a map-only bucket projection —
    * the corpus itself never sorts. */
  /** df-in core of [[ccnetBuckets]] — the QueryDef and the GrowthSpec
    * `ccnet_buckets` pin both bind it. */
  def ccnetBucketsOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      // materialize the (doc_id, fluency_milli) projection ONCE: it
      // feeds the histogram branch AND the final bucket projection,
      // and both would otherwise recompute the heavy bigram-LM pass
      // (the histogram sits behind a broadcast, which defeats
      // ReuseExchange — the r13 self-join finding; r14 review). The
      // url_domain_proj trade: one heavy pass + one ~16-byte/row
      // parquet round-trip beats 2-3 bigram-explode passes at any
      // scale.
      val scored = graft.Work.materialize("ccnet_scored",
        fluencyScoredOf(docs))
      scored.crossJoin(broadcast(fluencyTerciles(scored)))
        .select(col("doc_id"), col("fluency_milli"),
          when(col("fluency_milli") <= col("t1"), "tail")
            .when(col("fluency_milli") <= col("t2"), "middle")
            .otherwise("head").as("bucket"))
  }

  /** The corpus-relative fluency statistic per doc — the bigram-LM
    * mean document frequency in milli-units (see [[ccnetBuckets]]). */
  private def fluencyScoredOf(docs: DataFrame): DataFrame =
    lmStatsOf(docs).select(col("doc_id"),
      graft.ops.Relational.meanMilli("sum_df", "n_bigrams")
        .as("fluency_milli"))

  /** Count-based tercile thresholds (one row: t1, t2) of a scored
    * frame: histogram on the VALUE DOMAIN (bounded by distinct
    * statistic values, never corpus rows), cumulative window over
    * that bounded frame, n = max(cum) so no separate corpus-count
    * branch (r14 review). Shared by the batch bucket key and the
    * published-LM artifact so the two cannot drift. */
  private def fluencyTerciles(scored: DataFrame): DataFrame = {
    val hist = scored.groupBy("fluency_milli").agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum",
      sum(col("c")).over(Window.orderBy("fluency_milli")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    cum.crossJoin(broadcast(cum.agg(max(col("cum")).as("n"))))
      .agg(
        min(when(col("cum") >= expr("(n + 2) div 3"),
          col("fluency_milli"))).as("t1"),
        min(when(col("cum") >= expr("(2 * n + 2) div 3"),
          col("fluency_milli"))).as("t2"))
  }

  /** Oracle for `corpus_ccnet_buckets` (the in-query, UNPRUNED
    * operator). `corpus_fluency_gate` oracles the PRUNED published-LM
    * semantics separately since r16 (`prunedGateOracleSql`); the two
    * coincide exactly when no bigram falls under [[LmMinCount]] —
    * CorpusSpec pins that equality on a planted corpus. */
  private val ccnetOracleSql = s"""
      WITH inv AS (
        SELECT doc_id, unnest(list_transform(
                 generate_series(1, len(ws) - 1),
                 i -> ws[i] || ' ' || ws[i + 1])) AS bg
        FROM (SELECT doc_id, ${TextAnalysis.wsSplitSql("text")} AS ws
              FROM documents)
        WHERE len(ws) >= 2),
      freq AS (SELECT bg, count(*) AS c FROM inv GROUP BY bg),
      lm AS (SELECT doc_id, count(*) AS n_bigrams,
                    sum(c) AS sum_df
             FROM inv JOIN freq USING (bg) GROUP BY doc_id),
      scored AS (SELECT doc_id,
                        CAST((sum_df * 1000) // n_bigrams AS BIGINT)
                          AS fluency_milli
                 FROM lm),
      hist AS (SELECT fluency_milli, count(*) AS c
               FROM scored GROUP BY 1),
      cum AS (SELECT fluency_milli,
                     sum(c) OVER (ORDER BY fluency_milli) AS cum
              FROM hist),
      n AS (SELECT count(*) AS n FROM scored),
      t AS (SELECT
              (SELECT min(fluency_milli) FROM cum, n
               WHERE cum >= (n + 2) // 3) AS t1,
              (SELECT min(fluency_milli) FROM cum, n
               WHERE cum >= (2 * n + 2) // 3) AS t2)
      SELECT s.doc_id, s.fluency_milli,
             CASE WHEN s.fluency_milli <= t.t1 THEN 'tail'
                  WHEN s.fluency_milli <= t.t2 THEN 'middle'
                  ELSE 'head' END AS bucket
      FROM scored s, t"""

  val ccnetBuckets = QueryDef(
    "corpus_ccnet_buckets",
    (s, dir) => ccnetBucketsOf(Tables(s, dir, "documents")),
    Some(ccnetOracleSql))

  /** Ingest-time fluency gate — the streaming twin of [[ccnetBuckets]]
    * and the actual CCNet deployment shape: the language model is a
    * FIXED published artifact (there: a trained KenLM binary; here:
    * the reference corpus's bigram frequency table) broadcast to every
    * worker together with the tercile thresholds, and each incoming
    * document is scored and bucketed in one stateless map — no
    * shuffle, no state store, so the SAME function runs on batch and
    * streaming frames (StreamingSpec pins stream == batch). Docs with
    * fewer than two words carry no bigram signal and are dropped,
    * matching the batch key's domain. */
  def fluencyGate(docs: org.apache.spark.sql.DataFrame,
      freq: Map[String, Long], t1: Long, t2: Long)
      : org.apache.spark.sql.DataFrame =
    // per-call broadcast, reclaimed by ContextCleaner once the gate is
    // dropped (see gateBcFor). A long-lived session that reconstructs
    // gates repeatedly against ONE published LM (restarted streams —
    // the r14 ADVICE scenario) should use [[fluencyGatePublished]],
    // which memoizes one broadcast per (session, artifact) the way the
    // DSIR ratio table does.
    fluencyGateBc(docs, gateBcFor(docs.sparkSession, freq), t1, t2)

  private def fluencyGateBc(docs: org.apache.spark.sql.DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[Map[String, Long]],
      t1: Long, t2: Long): org.apache.spark.sql.DataFrame = {
    val statUdf = udf { (text: String) =>
      val freq = bc.value
      val w = TextAnalysis.wsTokens(text)
      // boxed Long: the <2-word case is SQL NULL (dropped below), and
      // an unboxed branch would type the lambda Any → no encoder
      if (w.length < 2) null.asInstanceOf[java.lang.Long]
      else {
        var i = 0
        var s = 0L
        while (i < w.length - 1) {
          s += freq.getOrElse(w(i) + " " + w(i + 1), 0L)
          i += 1
        }
        val n = (w.length - 1).toLong
        // trunc(s·1000/n) without the s·1000 overflow — the JVM twin
        // of Relational.meanMilli (s, n are non-negative here)
        java.lang.Long.valueOf(
          (s / n) * 1000L + ((s - (s / n) * n) * 1000L) / n)
      }
    }
    docs
      // the <2-word guard as a NATIVE predicate, not isNotNull on the
      // UDF column: PushDownPredicates clones a UDF-output filter into
      // the scan's DataFilters, running the whole LM fold TWICE per
      // row (r15 plan audit — the r13 shingle-guard finding again).
      // Exact equivalence: statUdf returns null iff wsTokens(text) has
      // < 2 tokens, and tokensWs is its pinned native twin (null text
      // fails both: size(null) = -1, the UDF's [""] has 1 token).
      .filter(size(TextAnalysis.tokensWs(col("text"))) >= 2)
      .withColumn("fluency_milli", statUdf(col("text")))
      .select(col("doc_id"), col("fluency_milli"),
        when(col("fluency_milli") <= t1, "tail")
          .when(col("fluency_milli") <= t2, "middle")
          .otherwise("head").as("bucket"))
  }

  // genuinely broadcast, not closure-captured (a closure Map ships
  // inside EVERY serialized task — r14 review). The broadcast is
  // per-CALL and deliberately NOT cached here: once the returned gate
  // is dropped the Broadcast becomes unreachable and Spark's
  // ContextCleaner reclaims the executor copies, so an ad-hoc caller
  // leaks nothing lasting — whereas an identity-keyed cache (the first
  // r15 spelling) pinned every re-collected map + broadcast until
  // session stop, turning the r14 transient-copy concern into
  // unbounded growth (r15 review). Long-lived callers that want ONE
  // broadcast per artifact go through [[fluencyGatePublished]], whose
  // lmLoaded memoization is bounded by the number of published
  // artifacts.
  private def gateBcFor(s: org.apache.spark.sql.SparkSession,
      freq: Map[String, Long])
      : org.apache.spark.broadcast.Broadcast[Map[String, Long]] =
    s.sparkContext.broadcast(freq)

  // --- published CCNet LM (the deployment artifact, r15; pruned r16) --

  /** KenLM-style min-count pruning threshold for the PUBLISHED bigram
    * LM (r15 verdict #1): bigrams with corpus frequency below this are
    * dropped from the artifact, so the driver/executor copy of the LM
    * is bounded by the ≥2-df vocabulary instead of every hapax the
    * crawl ever produced — under Zipf, hapax bigrams are roughly half
    * of all DISTINCT bigrams, and they are exactly the mass that grows
    * fastest under Heaps' law. Gate semantics absorb pruning for free:
    * a bigram absent from the LM already scores 0 (the unseen-bigram
    * rule), so pruning only moves each hapax occurrence's contribution
    * from 1 to 0; the published THRESHOLDS are derived from the same
    * pruned scoring, keeping the tercile split a true tercile of the
    * reference corpus under the deployed statistic. At real crawl
    * scale this threshold is a tuning knob (KenLM ships --prune; raise
    * it or switch to top-N until the table fits the driver comfortably)
    * — [[publishFluencyLm]] takes it as a parameter. */
  val LmMinCount = 2

  // v2: v1 published the UNPRUNED table and derived thresholds from
  // unpruned scores — a v1 artifact in a shared work dir must never be
  // served to the pruned gate/oracle
  private def lmArtifactPath(dir: String,
      fingerprint: Option[String]): String =
    s"${graft.Work.dir}/ccnet_lm_v2_${graft.Work.publishTag(dir, fingerprint)}"

  private val lmLoaded = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String),
    (org.apache.spark.broadcast.Broadcast[Map[String, Long]], Long, Long)]

  /** Publish the CCNet LM artifacts of an sf dir once — the bigram
    * frequency table (`freq/`: bg, c) and the count-based tercile
    * thresholds (`th/`: one row t1, t2) the reference corpus induces —
    * under the `_SUCCESS`-gated jvm-tagged-rename discipline of
    * [[graft.ext.Dsir.ensureLogRatios]], keyed on
    * [[graft.Work.publishTag]]. This is the "trained KenLM binary" of
    * the CCNet deployment story as a storage-backed artifact: computed
    * once from the reference corpus, consumed by every later
    * [[fluencyGatePublished]] gate (r14 verdict: the gate's LM was
    * caller-supplied only, the deployment shape unexercised). The
    * parent marker is created only after BOTH subtables landed. */
  private val lmDone = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), String]

  def ensureFluencyLm(s: org.apache.spark.sql.SparkSession,
      dir: String, fingerprint: Option[String] = None): String = {
    // the publish itself is serialized per (session, artifact path) —
    // the full lrDone pattern, not just the load memoization: two
    // unguarded same-JVM threads could otherwise stage concurrently
    // (r15 review); Work.publish additionally uniquifies the sweepable
    // staging dir per call. Keyed on the artifact PATH (which folds
    // dir + fingerprint) so a fingerprinted republish of a mutated
    // corpus is a distinct entry (r15 verdict #6).
    graft.SessionCaches.evictStopped(lmDone)(_._1)
    val path = lmArtifactPath(dir, fingerprint)
    lmDone.computeIfAbsent((s, path), { _ =>
      publishFluencyLm(s, path, Tables(s, dir, "documents"))
    })
  }

  /** Ensure-and-REGISTER the fluency LM (r16 verdict #7): same
    * registry contract as [[graft.ext.Dedup.registerHistoryIndex]] —
    * bare `name` tracks the current publish, `name@fingerprint`
    * pins each historical one. */
  def registerFluencyLm(reg: graft.registry.Registry,
      s: org.apache.spark.sql.SparkSession, name: String, dir: String,
      fingerprint: Option[String] = None): graft.registry.ArtifactMeta =
    reg.registerVersionedArtifact(name,
      ensureFluencyLm(s, dir, fingerprint), fingerprint)

  /** Stage the pruned LM artifact for an arbitrary reference corpus —
    * the publish core of [[ensureFluencyLm]], exposed so CorpusSpec
    * can pin pruned-vs-full behavior on PLANTED corpora (the testdata
    * witness goes through the memoized per-sf-dir wrapper).
    *
    * `freq/` carries only bigrams with corpus frequency >= `minCount`
    * ([[LmMinCount]]); `th/` carries tercile thresholds derived from
    * the PRUNED scoring (left join + coalesce-0 — bigrams pruned from
    * the table contribute 0, exactly like bigrams the reference corpus
    * never saw, so publish-time scoring and gate-time scoring agree by
    * construction). Thresholds derive from the exact freq BYTES just
    * staged (read back and joined), and the corpus pays TWO bigram
    * passes total instead of three (r15 review). */
  def publishFluencyLm(s: org.apache.spark.sql.SparkSession, path: String,
      docs: org.apache.spark.sql.DataFrame,
      minCount: Long = LmMinCount): String =
    graft.Work.publish(path) { tmp =>
      docs.select(explode(bigrams(col("text"))).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("c"))
        .filter(col("c") >= minCount)
        .write.mode("overwrite").parquet(s"$tmp/freq")
      val freqStored = s.read.parquet(s"$tmp/freq")
      val scored = docs
        .select(col("doc_id"), explode(bigrams(col("text"))).as("bg"))
        // LEFT join: a pruned-away bigram still counts a POSITION
        // (n_bigrams) but contributes 0 mass — the gate UDF's
        // getOrElse(0) twin; an inner join would silently shrink the
        // denominator and diverge from the deployed gate
        .join(freqStored, Seq("bg"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(coalesce(col("c"), lit(0L))).as("sum_df"))
        .select(col("doc_id"),
          graft.ops.Relational.meanMilli("sum_df", "n_bigrams")
            .as("fluency_milli"))
      fluencyTerciles(scored).coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/th")
    }

  /** Load the published LM + thresholds, memoized per session × path:
    * the freq broadcast goes out ONCE per (session, artifact) however
    * many gates a long-lived session constructs (r14 ADVICE — the
    * lrDone/idfDone pattern). The driver-side collect of the freq
    * table is the documented deployment shape (CCNet workers each load
    * the full KenLM artifact); since r16 the artifact is min-count
    * PRUNED at publish ([[LmMinCount]]), so the collected map is
    * bounded by the ≥minCount vocabulary — the hapax tail that made
    * this the repo's last driver-memory-shaped query-path risk (r15
    * verdict #1) never reaches the driver. */
  def loadFluencyLm(s: org.apache.spark.sql.SparkSession, path: String)
      : (org.apache.spark.broadcast.Broadcast[Map[String, Long]],
        Long, Long) = {
    graft.SessionCaches.evictStopped(lmLoaded)(_._1)
    lmLoaded.computeIfAbsent((s, path), { _ =>
      val freq = s.read.parquet(s"$path/freq").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val th = s.read.parquet(s"$path/th").collect().head
      (s.sparkContext.broadcast(freq),
        th.getAs[Long]("t1"), th.getAs[Long]("t2"))
    })
  }

  /** The deployment entry point: gate `docs` with the PUBLISHED
    * (pruned, [[LmMinCount]]) LM of the reference corpus at `dir` —
    * storage-backed end to end, no caller-supplied statistics. Fed the
    * reference corpus itself this reproduces [[ccnetBuckets]] exactly
    * WHEN pruning removes nothing (every bigram df >= minCount —
    * CorpusSpec pins that equality on a planted corpus); on a corpus
    * with hapax bigrams the deployed statistic deliberately zeroes
    * their contribution, and the `corpus_fluency_gate` key oracles the
    * pruned semantics against DuckDB every round. */
  def fluencyGatePublished(docs: org.apache.spark.sql.DataFrame,
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val (bc, t1, t2) = loadFluencyLm(s, ensureFluencyLm(s, dir))
    fluencyGateBc(docs, bc, t1, t2)
  }

  /** [[fluencyGatePublished]] resolved BY NAME through the registry
    * (r19 verdict #4): gate `docs` with whatever LM publish the
    * registry currently serves under `name` (or the pinned
    * `version`) — the spelling a production pipeline uses, so a
    * retrained LM swaps in by re-registering, with stage history,
    * no caller code change. */
  def fluencyGateResolved(docs: org.apache.spark.sql.DataFrame,
      s: org.apache.spark.sql.SparkSession,
      reg: graft.registry.Registry, name: String,
      version: Option[String] = None): org.apache.spark.sql.DataFrame = {
    val (bc, t1, t2) = graft.registry.DataArtifacts
      .resolveFluencyLm(reg, s, name, version)
    fluencyGateBc(docs, bc, t1, t2)
  }

  /** The pruned twin of [[ccnetOracleSql]] — frequency table cut at
    * [[LmMinCount]], scoring via LEFT join + coalesce-0 so pruned
    * bigrams count a position with zero mass (the gate's unseen-bigram
    * rule), thresholds re-derived from pruned scores. */
  private val prunedGateOracleSql = s"""
      WITH inv AS (
        SELECT doc_id, unnest(list_transform(
                 generate_series(1, len(ws) - 1),
                 i -> ws[i] || ' ' || ws[i + 1])) AS bg
        FROM (SELECT doc_id, ${TextAnalysis.wsSplitSql("text")} AS ws
              FROM documents)
        WHERE len(ws) >= 2),
      freq AS (SELECT bg, count(*) AS c FROM inv GROUP BY bg
               HAVING count(*) >= $LmMinCount),
      lm AS (SELECT i.doc_id, count(*) AS n_bigrams,
                    CAST(sum(coalesce(f.c, 0)) AS BIGINT) AS sum_df
             FROM inv i LEFT JOIN freq f USING (bg) GROUP BY i.doc_id),
      scored AS (SELECT doc_id,
                        CAST((sum_df * 1000) // n_bigrams AS BIGINT)
                          AS fluency_milli
                 FROM lm),
      hist AS (SELECT fluency_milli, count(*) AS c
               FROM scored GROUP BY 1),
      cum AS (SELECT fluency_milli,
                     sum(c) OVER (ORDER BY fluency_milli) AS cum
              FROM hist),
      n AS (SELECT count(*) AS n FROM scored),
      t AS (SELECT
              (SELECT min(fluency_milli) FROM cum, n
               WHERE cum >= (n + 2) // 3) AS t1,
              (SELECT min(fluency_milli) FROM cum, n
               WHERE cum >= (2 * n + 2) // 3) AS t2)
      SELECT s.doc_id, s.fluency_milli,
             CASE WHEN s.fluency_milli <= t.t1 THEN 'tail'
                  WHEN s.fluency_milli <= t.t2 THEN 'middle'
                  ELSE 'head' END AS bucket
      FROM scored s, t"""

  val fluencyGateQ = QueryDef(
    "corpus_fluency_gate",
    (s, dir) => {
      // THROUGH the registry (r19 verdict #4): the key registers the
      // published LM by name and resolves it back — the deployment
      // resolve-by-name path is what the oracle now gates, and the
      // result is bit-identical to the direct-path spelling (same
      // published bytes behind the pointer)
      val reg = new graft.registry.Registry(
        s"${graft.Work.dir}/reg_artifacts_${graft.Work.jvmTag}",
        new graft.workflow.EventBus)
      registerFluencyLm(reg, s, "ccnet_fluency_lm", dir): Unit
      fluencyGateResolved(Tables(s, dir, "documents"), s, reg,
        "ccnet_fluency_lm")
    },
    Some(prunedGateOracleSql))

  // --- BPE training + encoding ----------------------------------------

  val BpeNumMerges = 30
  val BpeDictCap = 5000

  /** Classic BPE training over the aggregated word-frequency dict —
    * the standard trainer shape (Sennrich et al. 2016 operate on the
    * word-count dictionary, never the raw corpus): Spark computes
    * (word, count) with one map-side-combined shuffle, the capped dict
    * ([[BpeDictCap]] by count desc, word asc — real trainers cap or
    * frequency-threshold the dict the same way; at 100 TB the deduped
    * word dict still collects) trains driver-side. Each round counts
    * adjacent token pairs weighted by word count and merges the
    * (count desc, pair asc) argmax everywhere, using the SAME
    * replace-fixpoint semantic as encoding
    * ([[graft.functions.BpeEncode.applyMerge]]) so train and encode
    * agree. Deterministic end to end — pinned by a hand-computed
    * fixture in CorpusSpec.
    */
  def trainBpeMerges(wordCounts: Seq[(String, Long)],
      t: Int): Seq[(String, String)] = {
    import graft.functions.BpeEncode.{Sep, applyMerge, toSepString}
    var dict: Seq[(String, Long)] =
      wordCounts.map { case (w, c) => (toSepString(w), c) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var exhausted = false
    while (round < t && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      dict.foreach { case (s, c) =>
        val toks = s.split(Sep).filter(_.nonEmpty)
        var j = 0
        while (j < toks.length - 1) {
          val k = (toks(j), toks(j + 1))
          counts.update(k, counts.getOrElse(k, 0L) + c)
          j += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        out += best
        dict = dict.map { case (s, c) => (applyMerge(s, best._1, best._2), c) }
        round += 1
      }
    }
    out.toSeq
  }

  private def mergesPath(dir: String,
      fingerprint: Option[String]): String =
    s"${graft.Work.dir}/bpe_merges_${graft.Work.publishTag(dir, fingerprint)}"

  private val mergesCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), Seq[(String, String)]]

  /** Train (memoized per session × sf dir) and publish the merge table
    * to the fixed per-sf path the oracle SQL embeds — same
    * deterministic-content publish contract as the codec rasters
    * (Multimodal.ensureRaster): tmp dir + rename, a completed table
    * (_SUCCESS) is always valid, a merge-semantics change must rename
    * the path. */
  def bpeMergesFor(s: org.apache.spark.sql.SparkSession,
      dir: String, fingerprint: Option[String] = None)
      : Seq[(String, String)] = {
    graft.SessionCaches.evictStopped(mergesCache)(_._1)
    val path = mergesPath(dir, fingerprint)
    mergesCache.computeIfAbsent((s, path), { _ =>
      val wc = Tables(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word").asc)
        .limit(BpeDictCap)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val merges = trainBpeMerges(wc, BpeNumMerges)
      // unified onto Work.publish (one _SUCCESS-gated, Hadoop-FS
      //-portable commit discipline; this site predated it, r16
      // verdict #1); the merges themselves are computed above
      // regardless — the session memo returns them — only the fixed
      // oracle-read table is publish-gated
      graft.Work.publish(path) { tmp =>
        val sp = s
        import sp.implicits._
        merges.zipWithIndex
          .map { case ((a, b), i) => (i + 1, a, b) }
          .toDF("rank", "a", "b")
          .coalesce(1).write.mode("overwrite").parquet(tmp)
      }: Unit
      merges
    })
  }

  /** df-in/df-out encode over any (doc_id, text) frame with a given
    * merge list: per word position, the BPE token sequence. Pure map
    * work — the T-row merge table rides the plan as a literal, no
    * join, no shuffle; the codegen'd [[graft.functions.BpeEncode]]
    * does the per-word merge loop. */
  def bpeEncodeOf(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    docs
      .select(col("doc_id"), posexplode(TextAnalysis.tokens(col("text"))))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("pos"),
        col("col").as("word"))
      .filter(length(col("word")) > 0)
      .select(col("doc_id"), col("pos"), col("word"),
        graft.functions.BpeEncode.bpeEncode(col("word"),
          typedlit(merges)).as("toks"))

  /** Driver-verified witness: full BPE — train [[BpeNumMerges]] merges
    * on the corpus word dict, encode every word position. The oracle
    * replays ENCODING independently (recursive CTE: one merge rank per
    * fixpoint step over the chr(1)-delimited token string, replace()
    * semantics identical to the engine's — see
    * [[graft.functions.BpeEncode]]) from the published merge table;
    * TRAINING itself is pinned by CorpusSpec's hand-computed fixture
    * (the codec-raster split: materialized intermediate + independent
    * arithmetic replay + engine-side unit pin).
    */
  val bpeEncodeQuery = QueryDef(
    "bpe_encode",
    (s, dir) => {
      val merges = bpeMergesFor(s, dir)
      bpeEncodeOf(Tables(s, dir, "documents"), merges)
    },
    Some(s"""
      WITH RECURSIVE m AS (
        SELECT rank, chr(1) || a || chr(1) || b || chr(1) AS pat,
               chr(1) || a || b || chr(1) AS rep
        FROM read_parquet('${graft.Work.dir}/bpe_merges_@SF@/*.parquet')),
      d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
            FROM documents),
      w AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS pos, ws
            FROM d),
      w2 AS (SELECT doc_id, pos, ws[pos] AS word FROM w
             WHERE length(ws[pos]) > 0),
      init AS (SELECT doc_id, pos, word,
                      chr(1) || array_to_string(list_transform(
                        generate_series(1, length(word)), i -> word[i:i]),
                        chr(1)) || chr(1) AS s
               FROM w2),
      enc AS (
        SELECT doc_id, pos, word, s, 1 AS r FROM init
        UNION ALL
        SELECT e.doc_id, e.pos, e.word,
               CASE WHEN contains(e.s, m.pat)
                    THEN replace(e.s, m.pat, m.rep) ELSE e.s END,
               CASE WHEN contains(e.s, m.pat) THEN e.r ELSE e.r + 1 END
        FROM enc e JOIN m ON m.rank = e.r)
      SELECT doc_id, pos, word,
             replace(trim(s, chr(1)), chr(1), ' ') AS toks
      FROM enc
      WHERE r = COALESCE((SELECT max(rank) FROM m), 0) + 1"""))

  /** Threshold-frequent terms — every term with frequency strictly
    * above total/(m+1) — via distributed Misra–Gries + exact recount,
    * NOT a `groupBy(term).count` over the whole key space. Two passes
    * over the corpus, neither of which shuffles the key space:
    *
    *  1. one [[graft.functions.MisraGriesSketch]] global aggregate —
    *     partials are ≤ m counters per input partition, the final
    *     summary is ≤ m candidate keys plus the exact element total;
    *  2. exact recount of ONLY the candidates: the ≤ m candidate terms
    *     broadcast back as a map-side semi-filter, so the recount's
    *     groupBy shuffles ≤ m distinct keys with map-side combine.
    *
    * MG's deterministic guarantee (per-key undercount ≤ total/(m+1),
    * see the aggregate's scaladoc) makes the candidate set a superset
    * of the threshold-frequent keys in EVERY partitioning/merge order,
    * so filtering the exact recount back to `cnt*(m+1) > total` yields
    * the true threshold-frequent set at any scale — which is what the
    * DuckDB oracle computes the naive way. This is the frequent-items
    * shape for key spaces too wide to shuffle (distinct n-grams / URLs
    * at 100 TB), and the hot-key pre-pass a salted join (q14) sizes
    * its salt list from.
    */
  /** Term-frame core over any single-column ("term") frame; the docs
    * overload below binds it to a (…, text) corpus. */
  def heavyHittersOfTerms(words: DataFrame, m: Int = MgCounters): DataFrame = {
    val summary = words
      .agg(graft.functions.FrequentItems.misraGries(col("term"), m).as("s"))
      .select(col("s.total").as("total"), explode(col("s.cands")).as("term"))
    words
      .join(broadcast(summary), "term")
      .groupBy(col("term"), col("total"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * (m + 1) > col("total"))
      .select("term", "cnt")
  }

  def heavyHittersOf(docs: DataFrame, m: Int = MgCounters): DataFrame =
    heavyHittersOfTerms(
      docs.select(explode(TextAnalysis.tokens(col("text"))).as("term"))
        .filter(length(col("term")) > 0),
      m)

  val heavyHitters = QueryDef(
    "heavy_hitters",
    (s, dir) => heavyHittersOf(Tables(s, dir, "documents")),
    Some(s"""
      WITH w AS (SELECT term FROM
                   (SELECT unnest(regexp_split_to_array(trim(text), '\\s+'))
                      AS term FROM documents)
                 WHERE length(term) > 0),
           n AS (SELECT count(*) AS total FROM w)
      SELECT term, count(*) AS cnt
      FROM w, n
      GROUP BY term, n.total
      HAVING count(*) * ${MgCounters + 1} > n.total"""))

  /** Per-document out-of-vocabulary rate against the corpus top-N
    * vocabulary — the tokenizer-coverage diagnostic run before
    * committing to a vocab size (an OOV token costs fallback bytes/UNK
    * degradation downstream). Rate is fixed-point ppm via integer DIV,
    * so the oracle hash-matches. Top-10 vocab here: the synthetic
    * corpus has only 31 distinct tokens, and a vocab that swallows the
    * whole domain would make every rate 0 (the operator's formula,
    * not its thresholds, is the contract).
    *
    * Scale: vocab is the [[vocabOf]] bounded top-N (combine + heap);
    * membership is a BROADCAST left join of the token explode against
    * the N-row vocab; the per-doc fold is one doc-keyed aggregate with
    * map-side combine. The corpus-sized explode never shuffles on the
    * token.
    */
  val OovVocabSize = 10

  def oovRateOf(docs: DataFrame, topN: Int = OovVocabSize): DataFrame = {
    val vocab = vocabOf(docs, topN).select(col("token"), lit(1).as("iv"))
    docs
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        expr("n_oov * 1000000 div n_tokens").as("oov_ppm"))
  }

  val oovRate = QueryDef(
    "vocab_oov_rate",
    (s, dir) => oovRateOf(Tables(s, dir, "documents")),
    Some(s"""
      WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+'))
                 AS token
        FROM documents),
      t AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
      vocab AS (
        SELECT token FROM (
          SELECT token, count(*) AS cnt FROM t GROUP BY 1
          ORDER BY cnt DESC, token LIMIT $OovVocabSize)),
      agg AS (
        SELECT doc_id, count(*) AS n_tokens,
               CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_oov
        FROM t LEFT JOIN vocab v USING (token)
        GROUP BY 1)
      SELECT doc_id, n_tokens, n_oov,
             n_oov * 1000000 // n_tokens AS oov_ppm
      FROM agg"""))

  /** Token-distribution drift report between a corpus slice and the
    * rest — the data-quality gate a training pipeline runs when a new
    * crawl or source lands: per token, its frequency as ppm of each
    * side's total token count, ranked by absolute divergence. A spike
    * in a handful of tokens (one template, one language, one spam
    * domain) shows up at the top before it skews a training mix. All
    * arithmetic is integer (counts, then a ppm floor-division over
    * positive totals), so the two engines cannot disagree on a float
    * crumb; (drift desc, token asc) is a total order, pinning the
    * top-N boundary.
    *
    * Scale: one (token) shuffle with map-side combine for the per-side
    * counts; the two slice totals fold from the vocabulary-sized
    * count rows (one corpus scan total, not two) into a single 1-row
    * aggregate cross-broadcast onto the counts; top-N is
    * TakeOrderedAndProject. Vocabulary-sized intermediates only —
    * never doc×token, nothing driver-side. Contract: each side must
    * contain at least one token (an empty slice has no distribution
    * to drift from; the ppm division is over its total).
    */
  def tokenDriftOf(docs: DataFrame, isA: Column,
      topN: Int = 50): DataFrame = {
    val toks = docs
      .select(isA.cast("long").as("a"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
    val counts = toks.groupBy("token")
      .agg(sum(col("a")).as("ca"), sum(lit(1L) - col("a")).as("cb"))
    // totals fold from the vocabulary-sized counts — Σca ≡ Σa over the
    // raw tokens, so the corpus is scanned and tokenized exactly ONCE
    // (the first cut re-aggregated the raw token stream for the
    // totals, doubling the dominant scan+explode cost)
    val totals = counts
      .agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"))
    counts.crossJoin(broadcast(totals))
      .select(col("token"), col("ca"), col("cb"),
        expr("ca * 1000000 div ta").as("fa_ppm"),
        expr("cb * 1000000 div tb").as("fb_ppm"))
      .withColumn("drift_ppm", abs(col("fa_ppm") - col("fb_ppm")))
      .orderBy(col("drift_ppm").desc, col("token").asc)
      .limit(topN)
  }

  val tokenDrift = QueryDef(
    "token_drift",
    (s, dir) => tokenDriftOf(Tables(s, dir, "documents"),
      col("source") === "src0"),
    Some("""
      WITH toks AS (
        SELECT CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS a,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents),
      t AS (SELECT * FROM toks WHERE length(token) > 0),
      counts AS (
        SELECT token, CAST(sum(a) AS BIGINT) AS ca,
               CAST(sum(1 - a) AS BIGINT) AS cb
        FROM t GROUP BY 1),
      totals AS (
        SELECT CAST(sum(a) AS BIGINT) AS ta,
               CAST(sum(1 - a) AS BIGINT) AS tb
        FROM t)
      SELECT token, ca, cb,
             ca * 1000000 // ta AS fa_ppm,
             cb * 1000000 // tb AS fb_ppm,
             abs(ca * 1000000 // ta - cb * 1000000 // tb) AS drift_ppm
      FROM counts, totals
      ORDER BY drift_ppm DESC, token ASC
      LIMIT 50"""))

  val all: Seq[QueryDef] =
    Seq(buildVocab, tfidfTopTerms, shuffleDeterministic, statsBySource,
      mixSample, mixTemperature, quotaSample, invertedIndex, bpePairCounts, bigramLm,
      ccnetBuckets, fluencyGateQ, unkReplace, bpeEncodeQuery,
      heavyHitters, oovRate, tokenDrift)
}
