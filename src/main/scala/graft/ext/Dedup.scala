package graft.ext

import graft.{QueryDef, Tables, Work}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for LLM-data pipelines (SURVEY.md §2.4):
  * exact, MinHash+LSH, SimHash, and n-gram-Jaccard near-dup — designed
  * as the standard 100 TB shapes: per-row signatures map-side, one
  * shuffle on (band, bucket) or shingle, pairwise verification only
  * inside buckets (never all-pairs).
  *
  * The synthetic documents have no natural near-dups, so the near-dup
  * queries run on a planted corpus: every document unioned with a
  * deterministic perturbation (last word dropped, doc_id + 10_000_000).
  * Both engines can construct it, so exact-arithmetic oracles still
  * apply. Jaccard thresholds are integer inequalities
  * (3*common >= nA+nB  ⟺  J >= 0.5) — no float boundary risk.
  */
object Dedup {

  val PlantedOffset = 10000000L

  /** Default word-shingle width — the ONE constant the shingle guard,
    * the clusters/keep-best node guards, and the oracle SQL's
    * `len(ws) >= 4` literals must agree on (the SQL literals are
    * inlined strings; a retune of this value must update them with it,
    * and the oracle hash fails loudly if one side drifts). n=4 is the
    * measured df² sweet spot for the synthetic 31-word vocabulary —
    * see [[shingleSets]]. */
  val ShingleN = 4

  /** documents ∪ perturbed copies (drop last word). */
  def plantedCorpus(docs: DataFrame): DataFrame = {
    val dropLast = udf { (text: String) =>
      // wsTokens, not String.trim: String.trim also strips control
      // chars < U+0009 that no SQL spelling can express — with the
      // shared Java-\s tokenizer the oracle's explicit-class split
      // (TextAnalysis.wsSplitSql) is exact on EVERY input (r14 ADVICE)
      val w = TextAnalysis.wsTokens(text)
      w.take(w.length - 1).mkString(" ")
    }
    val perturbed = docs.select(
      (col("doc_id") + PlantedOffset).as("doc_id"),
      dropLast(col("text")).as("text"))
    // spread: every consumer's first act is per-row-heavy map work
    // (shingle/minhash/simhash explode) and the single-file bench scan
    // would pin all of it to 1 of 32 cores; identity at cluster scale
    // (Tables.spread docs the rationale)
    graft.Tables.spread(docs.select("doc_id", "text").unionAll(perturbed))
  }

  private val plantedCorpusSql = s"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id,
             array_to_string(ws[1:len(ws)-1], ' ') AS text
      FROM (SELECT doc_id, ${TextAnalysis.wsSplitSql("text")} AS ws
            FROM documents)"""

  /** Exact dedup on a corpus with planted exact copies (doc_id%10==0
    * duplicated at +20M): group by text, keep min doc_id, count copies.
    * Scale: single hash shuffle on (a hash of) the text — at 100 TB one
    * groups by sha2(text) so shuffle keys are 32 bytes, not documents.
    */
  val exact = QueryDef(
    "dedup_exact",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val corpus = docs.select("doc_id", "text").unionAll(
        docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 20000000L).as("doc_id"), col("text")))
      corpus.groupBy(sha2(col("text").cast(BinaryType), 256).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    },
    Some("""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 20000000, text FROM documents WHERE doc_id % 10 = 0)
      SELECT sha256(text) AS text_hash,
             min(doc_id) AS keep_id, count(*) AS n_copies
      FROM corpus GROUP BY 1"""))

  /** Distinct word-n-gram shingle sets per doc: (doc_id, shs, n).
    * Default n=4: with the synthetic corpus's 31-word vocabulary, 3-gram
    * df² explosion is 8× larger (measured 11M vs 1.4M pair rows at
    * sf0.1) — larger shingles keep the inverted index sparse.
    *
    * Oracle-dialect note: the ENGINE-internal guard⟺UDF equivalence
    * below is exact for all whitespace (both sides share one Java `\s`
    * regex — PropertySpec pins it); since r15 the DuckDB oracle SQL
    * for every shingle key also spells the explicit
    * `[ \t\n\r\f\x0b]` class ([[TextAnalysis.wsSplitSql]]), so the
    * CROSS-ENGINE contract no longer assumes space-only edge
    * whitespace in the committed testdata (r14 ADVICE). */
  def shingleSets(corpus: DataFrame, n: Int = ShingleN): DataFrame =
    corpus
      // The non-empty guard as a NATIVE word-count predicate —
      // size(tokensWs) >= n iff the UDF's shingle array is non-empty:
      // both sides regex-trim with the identical Java `\s` class and
      // split on `\s+`, so the token counts are EQUAL for every input
      // (r14, closing the r13 ADVICE hole where the guard's space-only
      // trim passed tab-bordered docs whose UDF shingle set was empty
      // — an empty set minhashes to all-Long.MaxValue and collides in
      // every band). Null text fails both (size(null) = -1; the UDF's
      // [""] has 1 < n tokens for every shingle width used here). The
      // old spelling filtered on the UDF column itself, which let
      // PushDownPredicates clone the UDF below plantedCorpus's spread
      // exchange (r13 profile: DataFilters [size(UDF(text))>0] on the
      // 1-split scan) — the whole shingling ran once ON ONE CORE for
      // the filter and again, spread, for the projection. The native
      // predicate is cheap wherever pushdown puts it, and the UDF now
      // evaluates exactly once, above the exchange.
      .filter(size(TextAnalysis.tokensWs(col("text"))) >= n)
      // HASHED shingle ids since r20 (tokenHash of each n-gram — see
      // [[TextAnalysis.shingleHashesUdf]]): every consumer (inverted
      // index, prefix ranking, verify intersection, MinHash, published
      // segments) uses shingles only for equality/ordering/set ops, so
      // 8-byte ids replace ~25-char strings through every shuffle.
      // MinHash signatures are bit-identical (they always hashed with
      // tokenHash first); the prefix filter's exactness proof holds
      // under ANY corpus-deterministic total order, hash order
      // included.
      .withColumn("shs", TextAnalysis.shingleHashesUdf(n)(col("text")))
      .drop("text")
      .withColumn("n", size(col("shs")))

  /** All near-dup pairs with shingle-Jaccard >= 0.5, via an inverted
    * index on shingles (shuffle ∝ Σ df(shingle)², sparse for real
    * shingle spaces — never an all-pairs crossJoin).
    */
  /** @param shingleDfCap drop shingles appearing in more than this many
    *   docs from the inverted index — the df² pair explosion is
    *   quadratic in hot shingles, and a shingle shared by thousands of
    *   docs carries almost no similarity signal (standard prefix/df
    *   filtering). 0 = no cap (the oracle-checked default: exact).
    *   At 100 TB a cap in the hundreds bounds the worst shuffle key.
    */
  def jaccardPairs(shingled: DataFrame, shingleDfCap: Int = 0): DataFrame = {
    // persist the SHINGLE sets (the measured hot path, one UDF pass):
    // the inverted index probes them twice via the self-join and the
    // sizes join reads them again — without the cache that is three
    // full corpus+UDF recomputations. The count() populates the cache
    // BEFORE the self-join: both join sides otherwise race to compute
    // the same uncached partitions concurrently (the "Block already
    // exists" duplicate work visible in the round-1/2 bench logs).
    val sh = shingled.persist()
    sh.count(): Unit
    // materialize through the cache, then free it — a long Verify/Bench
    // session must not accumulate cached RDDs across queries
    val out = Work.materialize("jaccard_pairs", jaccardPairsOn(sh, shingleDfCap))
    sh.unpersist()
    out
  }

  /** The pair pipeline over an ALREADY-CACHED shingle frame — the
    * composition face of [[jaccardPairs]]: no persist, no
    * materialization. The caller owns the cache lifetime (keep `sh`
    * cached until every consuming action has run); a consumer that
    * references the result twice (e.g. the undirected-edge union in
    * connectedComponents) deduplicates the identical exchanges via
    * ReuseExchange instead of paying a pairs-parquet round trip. */
  private[graft] def jaccardPairsOn(sh: DataFrame,
      shingleDfCap: Int = 0): DataFrame = {
    // ids-only through the join+shuffle (narrow rows); per-doc sizes
    // joined back onto the much smaller aggregated pair set
    val invAll = sh.select(col("doc_id"), explode(col("shs")).as("sh"))
    val inv = if (shingleDfCap > 0) {
      val hot = invAll.groupBy("sh")
        .agg(count(lit(1)).as("df"))
        .filter(col("df") > shingleDfCap)
        .select("sh")
      invAll.join(broadcast(hot), Seq("sh"), "left_anti")
    } else invAll
    val pairCounts = inv.select(col("sh"), col("doc_id").as("a"))
      .join(inv.select(col("sh"), col("doc_id").as("b")), "sh")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
    val sizes = sh.select(col("doc_id"), col("n"))
    // no broadcast hint: AQE broadcasts sizes when small; at data scale
    // both sides shuffle on the id, which is the right plan there
    pairCounts
      .join(sizes.select(col("doc_id").as("a"), col("n").as("n_a")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n").as("n_b")), "b")
      .filter(col("n_common") * 3 >= col("n_a") + col("n_b"))
      .select("a", "b", "n_common", "n_a", "n_b")
  }

  /** Brute-force shingle-Jaccard oracle; also valid for the MinHash+LSH
    * path, whose set-equality with it (precision AND recall 1.0 on the
    * planted corpus) is asserted in ExtSpec — P(LSH misses a J>=0.9
    * pair) ≈ 4e-8 at 16 bands × 4 rows, and planted pairs sit far above
    * the threshold. */
  private val jaccardOracleSql = s"""
      WITH corpus AS ($plantedCorpusSql),
      sh AS (SELECT doc_id,
                    list_distinct(list_transform(
                      generate_series(1, len(ws) - 3),
                      i -> array_to_string(ws[i:i+3], ' '))) AS shs
             FROM (SELECT doc_id, ${TextAnalysis.wsSplitSql("text")} AS ws
                   FROM corpus)
             WHERE len(ws) >= 4),
      inv AS (SELECT doc_id, len(shs) AS n, unnest(shs) AS sh FROM sh)
      SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_common,
             a.n AS n_a, b.n AS n_b
      FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 4, 5
      HAVING count(*) * 3 >= a.n + b.n"""

  val ngramJaccard = QueryDef(
    "dedup_ngram_jaccard",
    (s, dir) =>
      jaccardPairs(shingleSets(plantedCorpus(Tables(s, dir, "documents")))),
    Some(jaccardOracleSql))

  /** DIRECTED containment pairs — the asymmetric near-superset signal
    * Jaccard structurally misses: a short doc embedded verbatim in a
    * much longer one has |A∩B|/|A| ≈ 1 but J = |A∩B|/|A∪B| ≈ |A|/|B|,
    * below any symmetric threshold. Pipelines use containment to drop
    * quoted/aggregated copies (the "news wire inside a roundup" case).
    * C(a→b) = n_common/n_a ≥ 0.8, emitted fixed-point ppm (integer
    * DIV). Same inverted-index candidate shape (and df-cap lever) as
    * [[jaccardPairsOn]]; the pair join is the one shuffle that scales
    * with Σ df², never |D|².
    */
  def containmentPairs(shingled: DataFrame,
      shingleDfCap: Int = 0): DataFrame = {
    val sh = shingled.persist()
    sh.count(): Unit
    val invAll = sh.select(col("doc_id"), explode(col("shs")).as("sh"))
    val inv = if (shingleDfCap > 0) {
      val hot = invAll.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") > shingleDfCap).select("sh")
      invAll.join(broadcast(hot), Seq("sh"), "left_anti")
    } else invAll
    val pairCounts = inv.select(col("sh"), col("doc_id").as("a"))
      .join(inv.select(col("sh"), col("doc_id").as("b")), "sh")
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
    val result = pairCounts
      .join(sh.select(col("doc_id").as("a"), col("n").as("n_a")), "a")
      .filter(col("n_common") * 5 >= col("n_a") * 4)
      .select(col("a"), col("b"), col("n_common"), col("n_a"),
        expr("n_common * 1000000 DIV n_a").as("contain_ppm"))
    val out = Work.materialize("containment_pairs", result)
    sh.unpersist()
    out
  }

  val containment = QueryDef(
    "dedup_containment",
    (s, dir) =>
      containmentPairs(shingleSets(plantedCorpus(Tables(s, dir, "documents")))),
    Some(s"""
      WITH corpus AS ($plantedCorpusSql),
      sh AS (SELECT doc_id,
                    list_distinct(list_transform(
                      generate_series(1, len(ws) - 3),
                      i -> array_to_string(ws[i:i+3], ' '))) AS shs
             FROM (SELECT doc_id, ${TextAnalysis.wsSplitSql("text")} AS ws
                   FROM corpus)
             WHERE len(ws) >= 4),
      inv AS (SELECT doc_id, len(shs) AS n, unnest(shs) AS sh FROM sh)
      SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_common,
             a.n AS n_a,
             count(*) * 1000000 // a.n AS contain_ppm
      FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id <> b.doc_id
      GROUP BY 1, 2, 4
      HAVING count(*) * 5 >= a.n * 4"""))

  /** Prefix index for J >= 0.5 candidate generation (SSJoin/PPJoin
    * family): each doc's shingles are ranked by global document
    * frequency ascending (rarest first, ties by shingle — a total,
    * corpus-deterministic order) and only the first ⌊n/2⌋+1 are
    * indexed. Exactness: a qualifying pair has 3c >= n_a+n_b with
    * n_b >= c, so c >= ⌈n_a/2⌉; the smallest common shingle then sits
    * within the first n_a−c+1 <= ⌊n_a/2⌋+1 of BOTH docs' orders, so
    * every qualifying pair shares a prefix entry. Rare-first ordering
    * is what makes the filter bite: hot shingles (the df² explosion)
    * land in suffixes and never generate candidates. */
  private def prefixIndex(sh: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // One explicit sh-hash exchange FEEDS BOTH the df aggregate and
    // the join's stream side (ReuseExchange dedups them; both
    // consumers' requirements are satisfied by the repartition, so
    // neither plans its own). Without it the explode ran twice and the
    // aggregate shuffled its partial counts in a second exchange —
    // strictly additional work, since the join shuffles the full
    // inverted index anyway (r13 profile). The aggregate losing its
    // map-side partial is free for the same reason: its input already
    // sits on the join's exchange.
    val inv = sh.select(col("doc_id"), col("n"), explode(col("shs")).as("sh"))
      .repartition(col("sh"))
    val dfs = inv.groupBy("sh").agg(count(lit(1)).as("df"))
    // NOTE: the windowless alternative (groupBy doc_id +
    // collect_list(struct(df, sh)) + in-row array_sort + slice) was
    // built and MEASURED WORSE at sf0.1 (3.8 vs 2.9 s; the per-doc
    // struct-array allocation costs more than the window's spillable
    // partition sort) — same shuffle count either way, so the window
    // form is kept (round 7)
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("sh"))
    inv.join(dfs, "sh")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= floor(col("n") / 2) + 1)
      .select("doc_id", "sh")
  }

  /** Candidate pairs from the prefix index — ids-only equi-join on the
    * prefix shingle, exactly the shape of [[jaccardPairs]]' candidate
    * stage but over the halved (and rare-first) index. NOTE for
    * callers on the hot path: pass an already-persisted index
    * ([[jaccardPairsPrefix]] does) — the self-join broadcasts one side,
    * so ReuseExchange can NOT dedup the two sides and an uncached
    * index pays the df-join + window twice (r13 profile). */
  private[graft] def prefixCandidates(sh: DataFrame): DataFrame =
    prefixCandidatesOn(prefixIndex(sh))

  private def prefixCandidatesOn(pre: DataFrame): DataFrame =
    pre.select(col("sh"), col("doc_id").as("a"))
      .join(pre.select(col("sh"), col("doc_id").as("b")), "sh")
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()

  /** Exact Jaccard verification of candidate (a, b) id pairs against
    * the full shingle sets — the shared tail of the prefix and
    * MinHash-LSH paths. Shape: chained
    * candidate ⋈ sets_a ⋈ sets_b. The r13 profile also MEASURED the
    * two-fetch alternative (va = cands ⋈ sets_a, vb = cands ⋈ sets_b,
    * merge on (a,b)): +3 jobs and no wall win, and at scale it only
    * helps while the candidate ids broadcast — in the non-broadcast
    * regime (100 TB candidates) it shuffles sets by a AND b PLUS an
    * extra candidate-fat merge exchange, strictly more than this
    * chain. Adjudicated: keep the chain (SCALE.md r13). */
  private[graft] def verifyJaccard(cands: DataFrame,
      sh: DataFrame): DataFrame =
    verifyJaccardSplit(cands, sh, sh)

  /** Output schema of every near-dup pair producer
    * ([[verifyJaccard]]/[[verifyJaccardSplit]] and the incremental
    * family) — THE shared constant, so a sink that must materialize an
    * empty pair frame (the streaming fold's first batch) can never
    * drift from the real producers' shape. */
  val PairSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "a BIGINT, b BIGINT, n_common INT, n_a INT, n_b INT")

  /** Exact-Jaccard verification with PER-SIDE shingle frames: the `a`
    * ids resolve against `shA` only and the `b` ids against `shB` only.
    * For the self-join case both sides are the same frame
    * ([[verifyJaccard]]); for the cross-corpus incremental case the
    * split is the r16 measured cut (sf0.1, candidates
    * persisted so the arms time ONLY the verify join: 0.37 s warm vs
    * 0.75 s for joining both ids against the history-sized union —
    * history is scanned once instead of twice, and the `b` side is
    * increment-sized so AQE broadcasts it at daily-crawl scale; an
    * explicit broadcast hint measured no further win, so it is left to
    * AQE's threshold). The split also removes the union spelling's
    * corruption mode for an id present on BOTH sides: each candidate id
    * matches exactly its own side's row instead of two union rows. */
  private[graft] def verifyJaccardSplit(cands: DataFrame,
      shA: DataFrame, shB: DataFrame): DataFrame = {
    def sets(f: DataFrame) = f.select(col("doc_id"), col("shs"), col("n"))
    cands
      .join(sets(shA).select(col("doc_id").as("a"), col("shs").as("shs_a"),
        col("n").as("n_a")), "a")
      .join(sets(shB).select(col("doc_id").as("b"), col("shs").as("shs_b"),
        col("n").as("n_b")), "b")
      .withColumn("n_common",
        size(array_intersect(col("shs_a"), col("shs_b"))))
      .filter(col("n_common") * 3 >= col("n_a") + col("n_b"))
      .select("a", "b", "n_common", "n_a", "n_b")
  }

  /** Prefix-filtered near-dup pairs — same output contract and ORACLE
    * as [[jaccardPairs]]: candidates from the ⌊n/2⌋+1 rare-first
    * prefix (provably no qualifying pair lost, see [[prefixIndex]]),
    * then exact verification on the FULL shingle sets. The 100 TB
    * lever the df-cap approximates: candidate volume drops from
    * Σ df(shingle)² over all shingles to Σ df² over prefix entries,
    * and a shingle shared by thousands of docs stops being a shuffle
    * hot key unless it is RARE within its docs' vocabularies. */
  def jaccardPairsPrefix(shingled: DataFrame): DataFrame = {
    val sh = shingled.persist()
    sh.count(): Unit
    // persist the prefix index too: the candidate self-join broadcasts
    // one side, so without the cache the df-join + window subtree runs
    // once per side (ReuseExchange only dedups identical SHUFFLE
    // exchanges; a broadcast side has none). One count() to populate,
    // same race rationale as sh above.
    val pre = prefixIndex(sh).persist()
    pre.count(): Unit
    val result = verifyJaccard(prefixCandidatesOn(pre), sh)
    val out = Work.materialize("jaccard_pairs_prefix", result)
    pre.unpersist()
    sh.unpersist()
    out
  }

  val ngramJaccardPrefix = QueryDef(
    "dedup_ngram_jaccard_prefix",
    (s, dir) => jaccardPairsPrefix(
      shingleSets(plantedCorpus(Tables(s, dir, "documents")))),
    Some(jaccardOracleSql))

  /** Connected components by min-label propagation WITH pointer
    * jumping: each round every node takes the min label among itself,
    * its neighbors' labels, and its label's label (path halving) —
    * reach doubles per round, so `maxIter` rounds cover component
    * diameters up to ~2^maxIter (the large-star/small-star family's
    * convergence bound). This is the duplicate-CLUSTER resolution step
    * real dedup pipelines run after pair generation (near-dup is not
    * transitive; keep-one-per-cluster needs components, not pairs).
    * Scale: each iteration is two joins + one min-aggregate, all on the
    * node id; each round's labels are materialized so the lineage stays
    * flat. Non-convergence within maxIter throws (partial labels would
    * silently keep wrong canonical docs downstream) unless
    * `strict = false`.
    */
  /** @param driverEdgeCap bounded-edge driver-shortcut cap: −1 (the
    *   default) reads `spark.graft.cc.driverEdges` (default 1M, 0
    *   disables); an explicit value overrides the conf — callers that
    *   manage their OWN cap (the curate stream's
    *   `spark.graft.curate.driverCcEdges`) pass 0 on their
    *   past-the-cap branch so two confs never gate one collect
    *   (r20 review #2). */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 20, strict: Boolean = true,
      driverEdgeCap: Long = -1L): DataFrame = {
    val spark = nodes.sparkSession
    // BOUNDED-EDGE driver shortcut (r20 optimization; the exact pattern
    // the curate stream shipped in r19 verdict #1, hoisted into the
    // shared CC so every batch caller gets it): the min-label fixed
    // point costs one full shuffle round of fixed job overhead PER
    // ITERATION — ~8-12 Spark jobs for the planted-corpus component
    // diameters — while the verified near-dup edge set of a curation
    // batch is tiny. When the edge set fits under the cap, collect it
    // (ONE bounded job: limit(cap+1) proves the bound and fetches the
    // rows in the same action — every production caller passes an
    // already-materialized pair parquet, so this is a cheap re-scan,
    // never a recompute of the pair pipeline), union-find driver-side
    // with min-root (labels = component minimum, EXACTLY the fixed
    // point's convergent labels), and attach via one broadcast join.
    // Only non-canonical nodes need label rows: a canonical node's
    // label is itself, which is what the isolated-node coalesce
    // produces for it anyway. Past the cap — the 100 TB regime — the
    // distributed fixed point below runs unchanged; the probe cost is
    // one early-stopping CollectLimit over cap+1 rows.
    // spark.graft.cc.driverEdges: 0 disables (StressMain's CC growth
    // rows do, so they keep measuring the distributed path).
    val driverCap =
      if (driverEdgeCap >= 0) driverEdgeCap
      else spark.conf
        .getOption("spark.graft.cc.driverEdges").map(_.toLong)
        .getOrElse(1000000L)
    if (driverCap > 0 && driverCap < Int.MaxValue) {
      val probe = edges
        .select(col("a").cast("long"), col("b").cast("long"))
        .limit(driverCap.toInt + 1).collect()
      if (probe.length <= driverCap) {
        val rejects = unionFindMinRoots(probe)
        // cluster column cast to the edge id type so the output schema
        // is bit-identical to the distributed path's (whose labels
        // carry the edge endpoints' type through the min aggregates)
        val idType = edges.schema("a").dataType
        import spark.implicits._
        val labelDf = rejects.toDF("doc_id", "cluster")
          .select(col("doc_id").cast(idType).as("doc_id"),
            col("cluster").cast(idType).as("cluster"))
        val withIso = nodes
          .select(col("doc_id"), col("doc_id").as("iso"))
          .join(broadcast(labelDf), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster"), col("iso")).as("cluster"))
        return Work.materialize("cc_labels", withIso)
      }
      // fell past the cap: the probe cost one bounded scan; run the
      // distributed fixed point on the full edge frame below
    }
    // Cluster deployments set spark.graft.cc.reliableCheckpoint=true
    // (plus sc.setCheckpointDir on reliable storage): per-round state
    // then goes through checkpoint(), surviving executor loss after
    // lineage truncation. The local default keeps rounds in the block
    // store — cheaper, and recoverable by lineage recompute.
    val reliable = spark.conf
      .getOption("spark.graft.cc.reliableCheckpoint").exists(_.toBoolean)
    val und = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
      .persist()
    // only nodes touched by an edge can ever change label — iterate on
    // that (much smaller) active set and attach the isolated nodes with
    // their own id at the end via one anti-join. Per-round state must be
    // (a) materialized once and (b) re-rooted on a LEAF plan — an
    // iterative plan whose round N references round N-1 THREE times
    // grows 3^N un-truncated (an early run OOM'd building a 2 GB plan
    // string). The convergence signal (count of changed labels) is
    // computed IN the same single action that materializes the round:
    // persist → one filter-count job that both populates the cache and
    // returns the changed count → wrap the computed RDD as a LogicalRDD
    // leaf for the next round. One Spark job per round total (the
    // earlier localCheckpoint + separate label-sum shape paid two).
    var persisted: Option[DataFrame] = None
    // one aggregate job per round returning (total rows, changed rows):
    // the row count is free in the same action and drives the
    // broadcast-vs-shuffle choice for the next round's label joins
    def rowsChanged(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        sum(when(col("changed"), 1L).otherwise(0L))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    def materializeLeaf(df: DataFrame): (DataFrame, Long, Long) = {
      if (reliable) {
        val cp = df.checkpoint() // eager write to reliable storage
        val (rows, n) = rowsChanged(cp)
        (cp, rows, n)
      } else {
        df.persist()
        // the action scans every partition (agg over the cached-plan
        // scan), so the cache is fully populated before the previous
        // round is released below
        val (rows, n) = rowsChanged(df)
        // rows are COPIED out of the columnar cache scan: the scan
        // reuses one mutable UnsafeRow per partition, and relying on
        // every downstream operator to copy buffered rows is fragile
        // across plan shapes (Dataset.localCheckpoint does the same
        // .copy() for the same reason)
        val leaf = org.apache.spark.sql.graftbridge.DataFrameBridge
          .fromInternalRows(spark, df.queryExecution.toRdd.map(_.copy()),
            df.schema)
        persisted.foreach(_.unpersist())
        persisted = Some(df)
        (leaf, rows, n)
      }
    }
    // Round 1 fused with initialization: under identity labels the
    // general round (self ∪ neighbor-labels ∪ pointer) reduces to
    // min(src, min(dst)) per src — ONE shuffle instead of a distinct
    // materialization plus two joins. `changed` falls out as
    // cluster != doc_id.
    val round1 = und.groupBy(col("src").as("doc_id"))
      .agg(min(col("dst")).as("min_dst"))
      .select(col("doc_id"),
        least(col("min_dst"), col("doc_id")).as("cluster"))
      .withColumn("changed", col("cluster") =!= col("doc_id"))
    val (r1Leaf, r1Rows, r1Changed) = materializeLeaf(round1)
    // Below this row count the label side of the per-round joins is
    // broadcast (a LogicalRDD leaf has no stats, so AQE would otherwise
    // plan shuffle joins for a frame of a few thousand rows — measured
    // as most of the per-round wall time locally). Label rows are two
    // longs; the 4M default is ~64 MB broadcast-side, and at data scale
    // the count crosses the threshold and the joins shuffle as before.
    val bcastRows = spark.conf
      .getOption("spark.graft.cc.broadcastLabelRows").map(_.toLong)
      .getOrElse(4000000L)
    var labels = r1Leaf.select("doc_id", "cluster")
    var labelRows = r1Rows
    val clusterType = labels.schema("cluster").dataType
    var i = 1
    var converged = r1Changed == 0
    while (!converged && i < maxIter) {
      val lab = if (labelRows <= bcastRows) broadcast(labels) else labels
      // self rows carry the pre-round label so the aggregate can emit a
      // per-doc `changed` flag for free: each doc_id appears exactly
      // once in `labels`, so min(old) below IS the old label
      val selfRows = labels.select(
        col("doc_id"), col("cluster"), col("cluster").as("old"))
      val viaNeighbor = und.join(lab, und("dst") === lab("doc_id"))
        .select(col("src").as("doc_id"), col("cluster"),
          lit(null).cast(clusterType).as("old"))
      // pointer jumping: doc -> label(label(doc)). label(x) is always a
      // node in x's component, so composing labels stays within the
      // component while doubling how far a min label reaches per round.
      val viaPointer = labels.alias("l")
        .join(lab.alias("m"), col("l.cluster") === col("m.doc_id"))
        .select(col("l.doc_id").as("doc_id"), col("m.cluster").as("cluster"),
          lit(null).cast(clusterType).as("old"))
      val next = selfRows.unionAll(viaNeighbor).unionAll(viaPointer)
        .groupBy("doc_id")
        .agg(min(col("cluster")).as("cluster"), min(col("old")).as("old"))
        .withColumn("changed", !(col("cluster") <=> col("old")))
      val (nextLeaf, nRows, nChanged) = materializeLeaf(next)
      converged = nChanged == 0
      labels = nextLeaf.select("doc_id", "cluster")
      labelRows = nRows
      i += 1
    }
    if (!converged) {
      val msg = s"connectedComponents: not converged after maxIter=" +
        s"$maxIter rounds — labels would be partial (component diameter" +
        s" exceeds ~2^$maxIter, or the label sum is oscillating)"
      if (strict) {
        persisted.foreach(_.unpersist())
        und.unpersist()
        throw new IllegalStateException(msg)
      }
      System.err.println(s"[graft] WARNING $msg")
    }
    val withIsolated = nodes.select(col("doc_id"), col("doc_id").as("iso"))
      .join(if (labelRows <= bcastRows) broadcast(labels) else labels,
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("iso")).as("cluster"))
    // one final materialization so callers hold no reference to the
    // caches being freed
    val out = Work.materialize("cc_labels", withIsolated)
    persisted.foreach(_.unpersist())
    und.unpersist()
    out
  }

  /** Duplicate clusters over the planted near-dup pairs: every doc
    * labeled with the min doc_id of its connected component. */
  val clusters = QueryDef(
    "dedup_clusters",
    (s, dir) => {
      val corpus = plantedCorpus(Tables(s, dir, "documents"))
      // nodes = docs with >= 1 shingle (>= ShingleN words) — computed with the
      // cheap codegen'd split instead of re-running the shingle UDF pass
      // for the isolated-node attach (jaccardPairs frees the shared
      // shingle cache before connectedComponents evaluates `nodes`).
      // tokensWs, not tokens: the node set must equal the shingled set
      // exactly, including tab/newline-bordered edge cases (r14)
      val nodes = corpus
        .filter(size(TextAnalysis.tokensWs(col("text"))) >= ShingleN)
        .select("doc_id")
      // NOTE: the materializing jaccardPairs is deliberate — feeding
      // the un-materialized pair plan (jaccardPairsOn) into CC's
      // undirected-edge union was measured SLOWER (the two union
      // branches re-run the post-exchange aggregation+joins; only the
      // shuffle files dedup via ReuseExchange), round 6
      connectedComponents(nodes,
        jaccardPairs(shingleSets(corpus)).select("a", "b"))
    },
    Some(s"""
      WITH RECURSIVE corpus AS ($plantedCorpusSql),
      sh AS (SELECT doc_id,
                    list_distinct(list_transform(
                      generate_series(1, len(ws) - 3),
                      i -> array_to_string(ws[i:i+3], ' '))) AS shs
             FROM (SELECT doc_id, ${TextAnalysis.wsSplitSql("text")} AS ws
                   FROM corpus)
             WHERE len(ws) >= 4),
      inv AS (SELECT doc_id, len(shs) AS n, unnest(shs) AS sh FROM sh),
      edges AS (
        SELECT a.doc_id AS a, b.doc_id AS b
        FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.n, b.n
        HAVING count(*) * 3 >= a.n + b.n),
      und AS (SELECT a AS src, b AS dst FROM edges
              UNION ALL SELECT b, a FROM edges),
      reach AS (
        SELECT doc_id AS node, doc_id AS label FROM sh
        UNION
        SELECT e.dst, r.label FROM reach r JOIN und e ON e.src = r.node)
      SELECT node AS doc_id, min(label) AS cluster
      FROM reach GROUP BY 1"""))

  /** df-in core of dedup_keep_best over any (doc_id, text) corpus —
    * the QueryDef and the StressMain growth harness both bind it.
    * Canonical-per-cluster selection by QUALITY: production dedup
    * keeps the BEST document of each duplicate cluster, not the
    * lowest id — the quality scorer decides which near-copy survives
    * (the CCNet/RefinedWeb keep rule), argmax by (score desc, doc_id
    * asc) via `max(struct(score, -doc_id))` — a plain algebraic max
    * with map-side combine, never a window over the corpus; total
    * order makes the pick deterministic and oracle-able.
    *
    * @param shingleDfCap forwarded to [[jaccardPairs]] (r15 verdict
    *   #2): at crawl scale a boilerplate shingle shared by thousands
    *   of docs makes the pair shuffle quadratic in its df; the cap
    *   drops it from the CANDIDATE index only (per-doc sizes stay
    *   full), so capping can only REMOVE pairs — a capped run's
    *   clusters are a refinement of the uncapped run's, and any cap
    *   above the corpus's max df is bit-identical (ExtSpec pins
    *   both). 0 = exact (the oracle-checked default). */
  def keepBestOf(corpus: DataFrame, shingleDfCap: Int = 0): DataFrame = {
      val pairs = jaccardPairs(shingleSets(corpus), shingleDfCap)
        .select("a", "b")
      // r14 (verdict #2 profile): CC runs on the ACTIVE node set only —
      // docs appearing in >= 1 near-dup pair — so its per-round frames,
      // its isolated-node attach, and its final materialized label
      // table are all dup-subset-sized, never corpus-sized. The (vast)
      // singleton remainder is handled INSIDE the argmax pass:
      // left-join the scored corpus with the active labels and group by
      // coalesce(cluster, doc_id) — a singleton cluster's keep row IS
      // the doc itself, and the coalesce key makes that fall out of the
      // SAME single map-side-combined aggregate (no anti-join branch,
      // no union, no second corpus scan — a branched spelling was
      // built and measured: +6 jobs, net slower at sf0.1). The old
      // shape instead paid two corpus-sized joins (CC attach + argmax)
      // and a corpus-sized label materialization; at 100 TB the active
      // label side broadcasts or shuffles at dup-subset size while the
      // corpus takes exactly one scan, one join, one aggregate.
      val active = pairs.select(col("a").as("doc_id"))
        .unionAll(pairs.select(col("b").as("doc_id")))
        .distinct()
      val labels = connectedComponents(active, pairs)
      // score only docs that can BE nodes (>= 1 shingle — the exact
      // tokensWs twin of the shingleSets guard, so node set == scored set)
      val scores = TextAnalysis.qualityScoreOf(
          corpus.filter(
            size(TextAnalysis.tokensWs(col("text"))) >= ShingleN))
        .select("doc_id", "score")
      scores.join(labels, Seq("doc_id"), "left")
        .groupBy(coalesce(col("cluster"), col("doc_id")).as("cluster"))
        .agg(max(struct(col("score"), (-col("doc_id")).as("neg_id")))
          .as("best"))
        .select(col("cluster"), (-col("best.neg_id")).as("keep_id"),
          col("best.score").as("best_score"))
  }

  val keepBest = QueryDef(
    "dedup_keep_best",
    (s, dir) => keepBestOf(plantedCorpus(Tables(s, dir, "documents"))),
    Some(s"""
      WITH RECURSIVE corpus AS ($plantedCorpusSql),
      sh AS (SELECT doc_id,
                    list_distinct(list_transform(
                      generate_series(1, len(ws) - 3),
                      i -> array_to_string(ws[i:i+3], ' '))) AS shs
             FROM (SELECT doc_id, ${TextAnalysis.wsSplitSql("text")} AS ws
                   FROM corpus)
             WHERE len(ws) >= 4),
      inv AS (SELECT doc_id, len(shs) AS n, unnest(shs) AS sh FROM sh),
      edges AS (
        SELECT a.doc_id AS a, b.doc_id AS b
        FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.n, b.n
        HAVING count(*) * 3 >= a.n + b.n),
      und AS (SELECT a AS src, b AS dst FROM edges
              UNION ALL SELECT b, a FROM edges),
      reach AS (
        SELECT doc_id AS node, doc_id AS label FROM sh
        UNION
        SELECT e.dst, r.label FROM reach r JOIN und e ON e.src = r.node),
      lab AS (SELECT node AS doc_id, min(label) AS cluster
              FROM reach GROUP BY 1),
      ${TextAnalysis.qsScoreSql("corpus")}
      SELECT cluster, keep_id, best_score FROM (
        SELECT l.cluster, q.doc_id AS keep_id, q.score AS best_score,
               row_number() OVER (PARTITION BY l.cluster
                 ORDER BY q.score DESC, q.doc_id) AS rn
        FROM lab l JOIN qss q ON l.doc_id = q.doc_id)
      WHERE rn = 1"""))

  // --- MinHash + LSH --------------------------------------------------

  private val MersennePrime = 2147483647L // 2^31 - 1
  val NumHashes = 64
  val Bands = 16
  val RowsPerBand = 4 // Bands * RowsPerBand == NumHashes

  /** Largest signature budget the seeded permutation family covers —
    * the planner's upper bound. */
  val MaxPlannedHashes = 256

  /** Deterministic affine permutation parameters (seeded). Sized to
    * [[MaxPlannedHashes]]; the FIRST [[NumHashes]] draws are identical
    * to the historical 64-entry family (same seed, sequential draws),
    * so every published signature and band-bucket table remains
    * byte-stable under the r20 auto-planning extension. */
  private val perms: Array[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Array.fill(MaxPlannedHashes)(
      (rnd.nextInt(Int.MaxValue - 1).toLong + 1, rnd.nextInt(Int.MaxValue).toLong))
  }
  private val permA: Array[Long] = perms.map(_._1)
  private val permB: Array[Long] = perms.map(_._2)

  /** An LSH banding plan: `bands` bands of `rowsPerBand` signature
    * rows (total hashes = b·r). The S-curve
    * `P(candidate | J) = 1 − (1 − J^r)^b` is the whole recall/cost
    * tradeoff: more rows per band sharpens the curve (fewer false
    * candidates below the threshold), more bands raises it (higher
    * recall at the threshold). The historical fixed 16×4 is
    * [[DefaultBandPlan]]. */
  final case class BandPlan(bands: Int, rowsPerBand: Int) {
    require(bands >= 1 && rowsPerBand >= 1,
      s"bands/rowsPerBand must be >= 1, got $bands x $rowsPerBand")
    require(bands * rowsPerBand <= MaxPlannedHashes,
      s"plan $bands x $rowsPerBand exceeds the $MaxPlannedHashes-hash " +
        "permutation family")
    def hashes: Int = bands * rowsPerBand
    /** P(a pair at Jaccard j shares at least one band bucket). */
    def candidateProb(j: Double): Double =
      1.0 - math.pow(1.0 - math.pow(j, rowsPerBand.toDouble),
        bands.toDouble)
    /** Registry/record token; [[Dedup.parseBandPlan]] inverts it. */
    def token: String = s"b=$bands;r=$rowsPerBand"
  }

  /** The historical fixed banding (16 bands × 4 rows = 64 hashes):
    * every default-path signature, band-bucket table and published
    * index uses exactly this plan. */
  val DefaultBandPlan: BandPlan = BandPlan(Bands, RowsPerBand)

  private[graft] def parseBandPlan(token: String,
      where: String): BandPlan = {
    val kv = token.split(";").map(_.trim).filter(_.nonEmpty).map { t =>
      t.split("=", 2) match {
        case Array(k, v) => (k, v)
        case _ => throw new IllegalArgumentException(
          s"malformed LSH-plan token '$token' at $where")
      }
    }.toMap
    // unknown keys are an ERROR, not a silent drop (the parsePolicy
    // rule): a future writer's extra plan field (a new hash family, a
    // seed) could make this reader band DIFFERENTLY from the
    // publisher — exactly the silent recall loss the token exists to
    // prevent pointedly (r20 review)
    val unknown = kv.keySet -- Set("b", "r")
    require(unknown.isEmpty,
      s"LSH-plan token '$token' at $where carries unknown keys " +
        s"${unknown.mkString(", ")} — written by a newer engine? " +
        "Upgrade before probing this index")
    require(kv.contains("b") && kv.contains("r"),
      s"LSH-plan token '$token' at $where is missing b= or r=")
    BandPlan(kv("b").toInt, kv("r").toInt)
  }

  /** Mean S-curve mass BELOW the threshold (fixed 99-point grid) —
    * the banded join's false-candidate cost, which exact verification
    * then pays to discard. The planner's minimization objective. */
  private def fpMass(p: BandPlan, targetJ: Double): Double =
    (1 to 99).map(i => p.candidateProb(targetJ * i / 100.0)).sum / 99.0

  /** Derive (bands, rowsPerBand) from a TARGET Jaccard threshold and
    * a signature budget (r19 verdict #7): for every row width r, take
    * the SMALLEST band count whose S-curve recall at `targetJ` clears
    * `recallFloor` and still fits the budget — P is increasing in b,
    * so the minimal feasible b dominates every larger one for that r
    * (strictly less false-candidate mass AND fewer hashes; the r20
    * review caught the earlier spelling pinning b to budget/r, which
    * returned dominated ~full-budget plans) — then minimize the
    * false-positive mass below the threshold across widths (ties →
    * fewer hashes, then sharper curve). Deterministic — two
    * independent planners given the same inputs derive the SAME plan,
    * and the plan token travels with published index segments so
    * incremental readers agree by construction
    * ([[segmentedIndexFlavors]] validates). Fails pointedly when no
    * plan under the budget reaches the floor (raise the budget or
    * lower the floor — silently under-recalling is the one wrong
    * answer). */
  def planBands(targetJ: Double, hashBudget: Int = NumHashes,
      recallFloor: Double = 0.95): BandPlan = {
    require(targetJ > 0 && targetJ < 1,
      s"targetJ must be in (0, 1), got $targetJ")
    require(hashBudget >= 1 && hashBudget <= MaxPlannedHashes,
      s"hashBudget must be in [1, $MaxPlannedHashes], got $hashBudget")
    require(recallFloor > 0 && recallFloor < 1,
      s"recallFloor must be in (0, 1), got $recallFloor")
    val feasible = for {
      r <- 1 to hashBudget
      b <- (1 to hashBudget / r).find(b =>
        BandPlan(b, r).candidateProb(targetJ) >= recallFloor)
    } yield BandPlan(b, r)
    require(feasible.nonEmpty,
      s"no (bands, rows) plan under $hashBudget hashes reaches " +
        s"recall $recallFloor at J=$targetJ — raise the budget or " +
        "lower the floor")
    feasible.minBy(p => (fpMass(p, targetJ), p.hashes, -p.rowsPerBand))
  }

  /** Per-doc MinHash signature: 64 mins over the shingle set, computed
    * in ONE pass over the per-row shingle array by a compact UDF: NO
    * explode, NO groupBy, NO shuffle. The earlier all-column-expression
    * form (64 × array_min(transform(...))) re-traversed the array 65
    * times through INTERPRETED higher-order functions — the same
    * measured ~100× trap as text_bigram_lm/shinglesUdf; the UDF costs
    * one traversal with the 64 running mins in a local array. The base
    * shingle hash is the repo's portable multiply-add fold (the
    * signature values are internal — candidate pairs are exactly
    * verified and the oracle is brute-force Jaccard, so ANY well-mixed
    * base hash preserves the LSH recall guarantee).
    */
  private def minhashSigUdfN(n: Int) = udf { (shs: Seq[Long]) =>
    val mins = Array.fill(n)(Long.MaxValue)
    shs.foreach { sh =>
      // `sh` IS tokenHash(shingle) since the r20 hashed-shingle change
      // (shingleHashesUdf) — signatures are bit-identical to the
      // string era, which always started from tokenHash here. Mix into
      // [0, p): the fold's low bits alone are not uniform enough for
      // affine permutations
      var h = sh
      h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
      val h0 = java.lang.Math.floorMod(h, MersennePrime)
      var i = 0
      while (i < n) {
        // h0, permA < 2^31 so h0 * a + b stays well inside Long
        val p = java.lang.Math.floorMod(h0 * permA(i) + permB(i),
          MersennePrime)
        if (p < mins(i)) mins(i) = p
        i += 1
      }
    }
    mins
  }
  private val minhashSigUdf = minhashSigUdfN(NumHashes)

  def minhashSignatures(shingled: DataFrame): DataFrame = {
    // input columns (shs, n, any event-time the streaming dedup
    // carries) ride along; batch consumers never select them, so
    // Catalyst prunes them before any shuffle
    val sig = shingled.withColumn("mhsig", minhashSigUdf(col("shs")))
    val sigCols = (0 until NumHashes).map(i => col("mhsig")(i).as(s"mh_$i"))
    sig.select((col("*") +: sigCols): _*).drop("mhsig")
  }

  /** [[minhashSignatures]] under an explicit [[BandPlan]] — the same
    * seeded permutation family (a plan's first k hashes are the fixed
    * path's first k), just `plan.hashes` of it. */
  def minhashSignaturesPlanned(shingled: DataFrame,
      plan: BandPlan): DataFrame = {
    val sig = shingled.withColumn("mhsig",
      minhashSigUdfN(plan.hashes)(col("shs")))
    val sigCols = (0 until plan.hashes)
      .map(i => col("mhsig")(i).as(s"mh_$i"))
    sig.select((col("*") +: sigCols): _*).drop("mhsig")
  }

  /** (doc_id [, extras...], band, bucket) rows: each doc in each of its
    * 16 LSH band buckets — the shared banding stage of the batch
    * candidate join and the streaming incremental dedup. */
  def bandBuckets(sigs: DataFrame, extras: Seq[String] = Nil): DataFrame =
    bandBucketsPlanned(sigs, DefaultBandPlan, extras)

  /** [[bandBuckets]] under an explicit [[BandPlan]]: band `i` hashes
    * signature rows `[i·r, (i+1)·r)` — the default plan reproduces
    * the historical 16×4 banding bit-for-bit. */
  def bandBucketsPlanned(sigs: DataFrame, plan: BandPlan,
      extras: Seq[String] = Nil): DataFrame = {
    val bandCols = (0 until plan.bands).map { bnd =>
      val cols = (0 until plan.rowsPerBand)
        .map(r => col(s"mh_${bnd * plan.rowsPerBand + r}"))
      xxhash64((lit(bnd) +: cols): _*).as(s"band_$bnd")
    }
    val banded = sigs.select(
      (col("doc_id") +: extras.map(col)) ++ bandCols: _*)
    banded.select(col("doc_id") +: extras.map(col) :+
        posexplode(array(
          (0 until plan.bands).map(bd => col(s"band_$bd")): _*)): _*)
      .toDF(("doc_id" +: extras) ++ Seq("band", "bucket"): _*)
  }

  /** LSH candidate pairs: equal band-bucket for any of the 16 bands of 4
    * signature rows. One shuffle on (band, bucket). NOTE for hot-path
    * callers: the self-join BROADCASTS one side when small, defeating
    * ReuseExchange — an unpersisted bucket frame recomputes the 64-hash
    * signature UDF per side ([[minhashDedup]] persists; same finding as
    * the r13 prefix-index fix, and the same reason the simhash/media
    * pair keys materialize their signatures first). */
  def lshCandidates(sigs: DataFrame): DataFrame =
    lshCandidatesOn(bandBuckets(sigs))

  private[graft] def lshCandidatesOn(buckets: DataFrame): DataFrame = {
    buckets.alias("x").join(buckets.alias("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
  }

  /** Full MinHash-LSH near-dup: signatures → banded candidates → exact
    * Jaccard verification (so precision is 1.0; the LSH only bounds
    * recall, P(miss | J=0.9) ≈ 4e-8 at 16×4).
    */
  def minhashDedup(corpus: DataFrame): DataFrame = {
    // scanned three times (signatures + both verification sides);
    // populate the cache once up front so the branches don't race to
    // compute the same partitions concurrently
    val shingled = shingleSets(corpus).persist()
    shingled.count(): Unit
    // persist the banded buckets: the candidate self-join broadcasts
    // one side when small, so without the cache the 64-hash signature
    // UDF runs once per side (r13; see lshCandidates scaladoc)
    val buckets = bandBuckets(minhashSignatures(shingled)).persist()
    buckets.count(): Unit
    val result = verifyJaccard(lshCandidatesOn(buckets), shingled)
    val out = Work.materialize("minhash_dedup", result)
    buckets.unpersist()
    shingled.unpersist()
    out
  }

  /** [[minhashDedup]] under an auto-derived or explicit [[BandPlan]]
    * (r19 verdict #7): identical pipeline, identical exact-Jaccard
    * verification — precision is 1.0 under ANY plan; the plan only
    * moves the recall floor and the candidate cost, which is exactly
    * what [[planBands]] trades off. */
  def minhashDedupPlanned(corpus: DataFrame,
      plan: BandPlan): DataFrame = {
    val shingled = shingleSets(corpus).persist()
    shingled.count(): Unit
    val buckets = bandBucketsPlanned(
      minhashSignaturesPlanned(shingled, plan), plan).persist()
    buckets.count(): Unit
    val result = verifyJaccard(lshCandidatesOn(buckets), shingled)
    val out = Work.materialize("minhash_dedup_planned", result)
    buckets.unpersist()
    shingled.unpersist()
    out
  }

  /** Same output contract as dedup_ngram_jaccard: the LSH only bounds
    * recall (P(miss | J=0.9) ≈ 4e-8 at 16×4) and the exact-Jaccard
    * verify step gives precision 1.0, so the brute-force oracle applies;
    * set-equality with it is additionally asserted in ExtSpec.
    */
  val minhash = QueryDef(
    "dedup_minhash_lsh",
    (s, dir) => minhashDedup(plantedCorpus(Tables(s, dir, "documents"))),
    Some(jaccardOracleSql))

  /** INCREMENTAL cross-corpus near-dup (r14) — the daily-crawl shape:
    * a new batch of documents is deduplicated AGAINST an existing
    * historical corpus without ever re-pairing history with itself.
    * Candidates come from equal MinHash band buckets ACROSS the two
    * sides only (history × increment — never history², the quadratic
    * term a full re-dedup would pay), then exact Jaccard verification
    * gives precision 1.0 as in [[minhashDedup]], so the brute-force
    * cross-slice oracle applies exactly.
    *
    * Recall bound (r14 ADVICE): a pair at Jaccard J shares any given
    * band with probability J⁴ (4 signature rows per band), so
    * P(missed by all 16 bands) = (1 − J⁴)¹⁶ — ≈4e-8 at J=0.9, ≈2.2e-4
    * at J=0.8, but 0.36 at the 0.5 verify threshold. Equality with
    * the brute-force cross-pair oracle is therefore DATA-contingent:
    * the planted recrawl pairs sit at J = (L−4)/(L−3) ≥ 6/7 ≈ 0.857
    * for the committed corpora's ≥10-word docs (per-pair miss ≤ 4e-6,
    * and the fixed permutations make it deterministic, not per-run
    * luck), and ExtSpec asserts SET EQUALITY with the brute-force
    * cross-pairs — the pin that fails loudly if the corpus ever grows
    * a near-threshold pair the banding can miss (the same pin
    * [[minhashDedup]] carries).
    *
    * 100 TB shape: in production the history side's index is a
    * PUBLISHED artifact — [[publishHistoryIndex]] writes it once at
    * history-ingest time, [[incrementalAgainstIndex]] joins each
    * increment against the stored tables, so per-increment compute is
    * ∝ increment, not corpus (witnessed by `dedup_incremental_pub` and
    * the StressMain flat-jobs growth row). The in-query spelling here
    * computes both sides in one union-tagged shingle pass (ONE
    * persist+count barrier and ONE corpus scan via
    * [[incrementalPairsFused]] — r14 verdict: the two serial
    * materializations and double corpus scan were its #5 cost center);
    * the cross-side join/verify plan is identical either way. One
    * (band, bucket) shuffle for candidates; the verify chain is the
    * adjudicated [[verifyJaccard]] shape. */
  def incrementalPairs(history: DataFrame,
      increment: DataFrame): DataFrame =
    // union-with-tag (the logRatioRows pattern): each input frame is
    // read once — inherent to two distinct frames; the predicate-split
    // witness shape goes through incrementalPairsFused instead, which
    // reads its one corpus once
    incrementalFromTagged(shingleSets(
      history.select(col("doc_id"), col("text"), lit(true).as("hist"))
        .unionByName(increment.select(col("doc_id"), col("text"),
          lit(false).as("hist")))))

  /** One-corpus-scan variant for the common case where history and
    * increment are a PREDICATE split of one frame (the
    * [[Dsir.logRatioRowsFused]] choice pin): the tag is computed on
    * the shingled rows, so the corpus is scanned and shingled exactly
    * once where `incrementalPairs(c.filter(p), c.filter(!p))` would
    * recompute the corpus once per side. */
  def incrementalPairsFused(corpus: DataFrame, histPred: Column): DataFrame =
    incrementalFromTagged(
      shingleSets(corpus.select(col("doc_id"), col("text")))
        .withColumn("hist", histPred))

  /** Shared core over a (doc_id, shs, n, hist) frame: ONE persist+count
    * barrier (vs r14's two serial per-side materializations), then the
    * cross-side candidate join and chained verify read the cache. */
  private def incrementalFromTagged(tagged: DataFrame): DataFrame = {
    val sh = tagged.persist()
    sh.count(): Unit
    // the banded sides are NOT persisted: unlike lshCandidates' SELF
    // join (one frame feeding both sides), each has exactly one
    // consumer — its side of the cross-side join — so the 64-hash
    // signature UDF runs once per side straight off the cached
    // shingle frame (r14 review)
    val cands = crossSideCandidates(
      bandBuckets(minhashSignatures(sh.filter(col("hist")).drop("hist"))),
      bandBuckets(minhashSignatures(sh.filter(!col("hist")).drop("hist"))))
    // ids are disjoint across the slices, so verifying against the
    // whole tagged frame keeps the adjudicated chained-join verify
    // shape (equivalent to the union of the two sides)
    val out = Work.materialize("incremental_pairs",
      verifyJaccard(cands, sh.drop("hist")))
    sh.unpersist()
    out
  }

  /** Candidate pairs from equal (band, bucket) ACROSS the two sides
    * only — never within a side (that quadratic term is what the
    * incremental contract avoids). */
  private[graft] def crossSideCandidates(bH: DataFrame, bI: DataFrame): DataFrame =
    bH.alias("x").join(bI.alias("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()

  // --- published history index (the production daily-crawl shape) ----

  /** Both `dedup_incremental` spellings share one oracle: the
    * brute-force cross-slice inverted-index join. */
  private val incrementalOracleSql = s"""
      WITH corpus AS ($plantedCorpusSql),
      sh AS (SELECT doc_id,
                    list_distinct(list_transform(
                      generate_series(1, len(ws) - 3),
                      i -> array_to_string(ws[i:i+3], ' '))) AS shs
             FROM (SELECT doc_id, ${TextAnalysis.wsSplitSql("text")} AS ws
                   FROM corpus)
             WHERE len(ws) >= 4),
      inv AS (SELECT doc_id, len(shs) AS n, unnest(shs) AS sh FROM sh)
      SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_common,
             a.n AS n_a, b.n AS n_b
      FROM inv a JOIN inv b ON a.sh = b.sh
      WHERE a.doc_id < ${PlantedOffset} AND b.doc_id >= ${PlantedOffset}
      GROUP BY 1, 2, 4, 5
      HAVING count(*) * 3 >= a.n + b.n"""

  val incremental = QueryDef(
    "dedup_incremental",
    (s, dir) => {
      // history = the original docs; increment = the planted perturbed
      // recrawls (+PlantedOffset ids) — every increment doc is a
      // near-dup of exactly its original, so the cross-dedup has a
      // rich, deterministic match set. Fused: one corpus scan.
      incrementalPairsFused(plantedCorpus(Tables(s, dir, "documents")),
        col("doc_id") < PlantedOffset)
    },
    Some(incrementalOracleSql))

  /** Write the history-side near-dup index — shingle sets (`sh/`, the
    * verify side) and banded MinHash buckets (`bb/`, the candidate
    * side) — to `path` under the _SUCCESS-gated, jvm-tagged-rename
    * publish discipline of [[Dsir.ensureLogRatios]]. Runs ONCE at
    * history-ingest time; every later increment only READS the two
    * tables. The parent `_SUCCESS` marker is created only after both
    * subtables landed, so a reader can never observe a half-published
    * index; a completed index is never rewritten. */
  def publishHistoryIndex(s: SparkSession, path: String,
      history: DataFrame): Unit = {
    // Work.publish: _SUCCESS-gated, staged in a per-call UNIQUE
    // sweepable scr_ dir (two same-JVM threads can never share a
    // staging dir, and a crashed publish is reclaimed by the stale
    // sweep instead of leaking an index-sized dir — r15 review)
    Work.publish(path)(stagePlainIndex(_, history)): Unit
  }

  /** Shingle + MinHash-band a corpus batch and write the two plain
    * parquet subtables into a staging dir — the shared ingest core of
    * [[publishHistoryIndex]] and [[publishHistorySegment]]. */
  /** THE single writer of the plain (sh, bb, lshplan) segment layout
    * (r20 review: three call sites had each spelled it out — a future
    * layout change must land exactly once). `sh` must be
    * `shingleSets`-shaped and already cached by the caller. The
    * banding plan record travels WITH the segment (r19 verdict #7):
    * incremental probes validate it, so two sides never band
    * differently and silently lose recall. */
  private def stageShingledIndex(tmp: String, sh: DataFrame): Unit = {
    val shc = sh.select(col("doc_id"), col("shs"), col("n"))
    shc.write.mode("overwrite").parquet(s"$tmp/sh")
    bandBuckets(minhashSignatures(shc)).write.mode("overwrite")
      .parquet(s"$tmp/bb")
    writeRecord(tmp, "lshplan", DefaultBandPlan.token)
  }

  private[graft] def stagePlainIndex(tmp: String, batch: DataFrame): Unit = {
    val sh = shingleSets(batch.select(col("doc_id"), col("text")))
      .persist()
    sh.count(): Unit
    stageShingledIndex(tmp, sh)
    sh.unpersist(): Unit
  }

  // --- segmented history index (append-only daily-crawl folding) -----

  /** Append one batch to a SEGMENTED history index — the layout a
    * daily pipeline actually maintains: today's deduped increment must
    * become part of history before tomorrow's run, and re-publishing a
    * monolithic index re-shingles the whole crawl every day. Here the
    * index directory holds append-only SEGMENTS (`seg_<id>`), each an
    * independently `_SUCCESS`-gated publish of one batch's shingle
    * sets + banded buckets; per-day ingest compute is ∝ the batch,
    * history is never touched. Readers union every COMPLETE segment
    * ([[segmentedIndexFrames]]) — a half-appended segment is invisible
    * (no `_SUCCESS`), so a crashed append never corrupts the index and
    * a reader racing an append just sees yesterday's history, which is
    * the correct daily semantics.
    *
    * The CALLER names the segment (the crawl date is the natural id):
    * retrying a day's append is idempotent (`_SUCCESS` short-circuit —
    * a completed segment is never rewritten), two different days never
    * collide, and the id carries the provenance a JVM-unique tag would
    * lose. Ordering is irrelevant to the union semantics. Returns the
    * segment path.
    *
    * PRECONDITION (the segmented face of the disjoint-id contract):
    * doc_ids must be disjoint ACROSS segments — the monolithic publish
    * gets this for free from being one batch, but a batch folded twice
    * under two different ids (a retry spelled '2026-08-15' then
    * '20260815' defeats the same-id short-circuit) duplicates its rows
    * in the union and the verify join fans out over them. The
    * `spark.graft.dedup.checkDisjointIds` debug check also scans the
    * assembled history side for duplicate doc_ids, so the segmented
    * reader fails fast on a double-fold, not just on an
    * increment-vs-history overlap. */
  def publishHistorySegment(s: SparkSession, indexDir: String,
      segmentId: String, batch: DataFrame): String = {
    require(segmentId.matches("[A-Za-z0-9._-]+"),
      s"segment id must be a plain file-name token, got '$segmentId'")
    val (fsys, dirPath) = Work.fs(indexDir)
    fsys.mkdirs(dirPath): Unit
    // fail BEFORE the shingle/MinHash work, not after it with a
    // misleading rename-race error from Work.publish (r16 review).
    // NOTE the index dir must live on the same filesystem as
    // GRAFT_WORK_DIR — Work.publish stages there and rename-commits,
    // and renames never cross filesystems (it enforces this).
    require(fsys.exists(dirPath) &&
        fsys.getFileStatus(dirPath).isDirectory,
      s"segment index dir $indexDir cannot be created (a file in the " +
        "way, or an unwritable parent)")
    val seg = Work.publish(
      s"$indexDir/seg_$segmentId")(stagePlainIndex(_, batch))
    // manifest update AFTER the commit, and also on the _SUCCESS
    // short-circuit: the idempotent retry of a publish that crashed
    // between its commit and its manifest update is what repairs the
    // manifest (r17 verdict #5)
    updateManifest(indexDir)
    seg
  }

  /** [[publishHistorySegment]] from an ALREADY-SHINGLED frame
    * `(doc_id, shs, n)` — the composition face for callers that have
    * the shingles cached (the curation stream shingles its batch once
    * for in-batch pair generation and must not pay the UDF pass plus
    * a persist+count AGAIN inside the fold; r19 verdict #1). The
    * caller guarantees the frame is exactly
    * `shingleSets(docs)`-shaped: same UDF, and rows with empty
    * shingle sets already dropped (`n > 0` — provably the same guard,
    * see [[shingleSets]]'s tokensWs invariant). Same `_SUCCESS` gate,
    * same manifest refresh, same idempotent-retry discipline. */
  def publishHistorySegmentShingled(s: SparkSession, indexDir: String,
      segmentId: String, shingled: DataFrame): String = {
    require(segmentId.matches("[A-Za-z0-9._-]+"),
      s"segment id must be a plain file-name token, got '$segmentId'")
    val (fsys, dirPath) = Work.fs(indexDir)
    fsys.mkdirs(dirPath): Unit
    require(fsys.exists(dirPath) &&
        fsys.getFileStatus(dirPath).isDirectory,
      s"segment index dir $indexDir cannot be created (a file in the " +
        "way, or an unwritable parent)")
    val seg = Work.publish(s"$indexDir/seg_$segmentId")(
      stageShingledIndex(_, shingled))
    updateManifest(indexDir)
    seg
  }

  /** Union frames over every complete segment of a segmented index,
    * as ONE multi-path parquet scan per subtable — not a unionByName
    * chain, which keeps a scan node (and its jobs) per segment: the
    * chained spelling measured +2 jobs per folded day in the
    * steady-state growth row, a per-day plan growth a year of segments
    * would compound; the multi-path scan reads N segments exactly like
    * one N-times-larger table (jobs flat, StressMain row). Production
    * addendum: an LSM-style periodic compaction of old segments keeps
    * the FILE count bounded too — the scan shape here makes that an
    * economy knob, not a correctness one. */
  /** Write a small in-artifact metadata record (the bucket layout, a
    * compaction's fold list) through the Hadoop FS API. Lives beside
    * the data it describes so a publish/rename moves them together. */
  private def writeRecord(dir: String, name: String,
      content: String): Unit = {
    val (fsys, dirPath) = Work.fs(dir)
    val out = fsys.create(
      new org.apache.hadoop.fs.Path(dirPath, name), true)
    try out.write(
      content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Aligned-fold file dial: a bucketed victim already carrying this
    * many files per bucket is folded through the full repartition
    * rewrite (collapses to one file per bucket) instead of the
    * shuffle-free aligned path (which would append one more). At 3,
    * a weekly cadence pays the history-sized shuffle roughly monthly
    * and the standing segment never exceeds 3 files per bucket. */
  val AlignedFoldMaxFilesPerBucket = 3

  /** (files per bucket, total data bytes) of a published bucketed
    * segment's sh table, from ONE listStatus — the aligned-fold dial's
    * input (file count = the budget COST) and the adoption greedy's
    * ordering key (bytes = the adoption SAVINGS; r18 ADVICE: ordering
    * by file count inverted the intent — a just-collapsed
    * 1-file/bucket standing segment, the largest-bytes intended
    * winner, sorted LAST and could be demoted by several many-file
    * small victims). */
  private def shLayout(path: String): (Int, Long) = {
    val (fsys, shDir) = Work.fs(s"$path/sh")
    val parts = fsys.listStatus(shDir).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
    (math.ceil(parts.size.toDouble / HistIdxBuckets).toInt,
      parts.map(_.getLen).sum)
  }

  /** Files per bucket of a published bucketed segment's sh table —
    * the aligned-fold dial's input. */
  private def filesPerBucket(path: String): Int = shLayout(path)._1

  /** Bucket count of a published bucketed segment/index, None for a
    * plain one (or a corrupt record — the strict validation lives in
    * [[bucketedHistoryIndex]], which is the read path that matters). */
  private def bucketCountOf(path: String): Option[Int] =
    readRecordOpt(path, "buckets")
      .map(_.trim.split(" ")(0)).filter(t => t.nonEmpty && t.forall(_.isDigit))
      .map(_.toInt)

  /** A record vanishing mid-read (concurrent retirement of the whole
    * segment dir) is the same outcome as not existing — callers treat
    * None as "gone", and activeSnapshots retries its whole pass on it.
    * One shared implementation with every other small control record
    * ([[graft.Work.readSmallRecord]], r18 review). */
  private def readRecordOpt(dir: String, name: String): Option[String] =
    Work.readSmallRecord(dir, name)

  /** One (path, children) snapshot per segment dir of a segmented
    * index — a single `listStatus` per segment resolves `_SUCCESS`,
    * `folds` and `buckets` presence in ONE metadata call instead of
    * three sequential probes (on the object-storage target of the
    * Hadoop-FS port, per-call latency × segments is the reader's whole
    * metadata bill; r17 review). Retries bounded times when a listed
    * segment dir VANISHES mid-pass: that only happens when a
    * concurrent compaction just retired it, in which case the next
    * pass sees the compacted segment complete and the fold filter
    * takes over — without the retry, the racing reader could observe
    * a set that is neither the old one nor the new one (r17 review of
    * the r16-#2 atomicity claim). */
  /** Canonical string spelling of a segment path — the shared
    * [[graft.Work.spell]] (r18 review: one spelling rule for every
    * string-keyed artifact path): default-filesystem paths come back
    * PLAIN, so every tag/table-name derivation downstream
    * (Work.publishTag in bucketedHistoryIndex AND retireSegments'
    * catalog cleanup — they must agree, r17 review #1) matches a
    * caller addressing the same artifact by plain path; paths on any
    * other filesystem stay fully qualified (stripping their scheme
    * would re-resolve them against the wrong store). */
  private def segSpelling(p: org.apache.hadoop.fs.Path): String =
    Work.spell(p)

  /** Test-visible count of full segment-listing passes — the pin that
    * manifest-backed reads cost O(1) metadata calls, not O(segments)
    * (r17 verdict #5). */
  private[graft] val listingPasses =
    new java.util.concurrent.atomic.AtomicLong(0)

  private def segSnapshots(
      indexDir: String): Seq[(String, Set[String])] = {
    listingPasses.incrementAndGet(): Unit
    val (fsys, dirPath) = Work.fs(indexDir)
    var attempt = 0
    while (attempt < 5) {
      attempt += 1
      try {
        val segs =
          if (!fsys.exists(dirPath)) Seq.empty
          else fsys.listStatus(dirPath).toSeq
            .filter(st => st.isDirectory &&
              st.getPath.getName.startsWith("seg_"))
            .map(_.getPath)
        return segs.map { p =>
          (segSpelling(p), fsys.listStatus(p).map(_.getPath.getName).toSet)
        }.sortBy(_._1)
      } catch {
        // the whole pass retries — a concurrent retirement (or a
        // sibling's Work.clean of the whole shared index) can delete a
        // listed dir, or the ROOT itself, between any two calls here;
        // the next attempt sees the post-delete state (r17 review #2)
        case _: java.io.FileNotFoundException => ()
      }
    }
    throw new IllegalStateException(
      s"segment listing of $indexDir kept racing concurrent " +
        "retirements after 5 attempts — is something deleting " +
        "segments outside compactSegments/retireSegments?")
  }

  /** Complete (`_SUCCESS`-gated) segment paths of a segmented index,
    * sorted by segment name — the shared listing of the plain reader,
    * the composed reader and the compactor, through the Hadoop FS API
    * (a 100 TB index lives on HDFS/object storage, where
    * `File.listFiles` returns null). */
  def completeSegments(indexDir: String): Seq[String] =
    segSnapshots(indexDir).filter(_._2("_SUCCESS")).map(_._1)

  /** True when segment `name` is COMMITTED in the index — present as a
    * complete segment, or named (the records are transitive) in a
    * complete segment's fold record, i.e. folded and possibly retired.
    * THE replay guard for idempotent per-batch folds (r18 review): a
    * policy compaction can fold and retire a batch's segment before
    * the stream checkpoint commits the batch, so a bare `_SUCCESS`
    * probe on a replay would say "never ran" and the replayed batch
    * would re-dedup against a history that already contains its own
    * docs — emitting a self-pair per doc and overwriting the batch's
    * correct pair sink. Cost (r18 ADVICE): one exists() for the
    * committed-and-still-present common case (sufficient — a complete
    * segment dir IS committed); a name that is absent pays one
    * O(segments) listing pass fused with the fold-record sweep
    * ([[foldGate]] — the streaming fold calls that directly so the
    * same pass also serves its history probe). */
  def segmentCommitted(indexDir: String, name: String): Boolean = {
    val n = if (name.startsWith("seg_")) name else s"seg_$name"
    Work.isComplete(s"$indexDir/$n") || foldGate(indexDir, name)._1
  }

  /** One CONSISTENT pass serving the streaming fold's whole pre-batch
    * decision: (is `name` committed?, the complete segment paths). The
    * fold-record reads retry WITH the listing they came from — a
    * concurrent retirement vanishing a listed record would otherwise
    * silently drop its victims from the folded set and turn a
    * committed replay into a re-run (r18 review: the same vanish race
    * activeSnapshotsByListing retries, re-introduced un-retried). One
    * listing serves both answers, so the fresh-batch hot path pays
    * ONE O(segments) pass, not two (r18 review). */
  private[graft] def foldGate(indexDir: String,
      name: String): (Boolean, Seq[String]) = {
    val n = if (name.startsWith("seg_")) name else s"seg_$name"
    var attempt = 0
    while (attempt < 5) {
      attempt += 1
      val snaps = segSnapshots(indexDir).filter(_._2("_SUCCESS"))
      val complete = snaps.map(_._1)
      if (complete.exists(segName(_) == n)) return (true, complete)
      val reads = snaps.filter(_._2("folds"))
        .map { case (p, _) => readRecordOpt(p, "folds") }
      if (!reads.contains(None))
        return (reads.flatten.flatMap(_.split("\n")).map(_.trim)
          .contains(n), complete)
    }
    throw new IllegalStateException(
      s"fold-gate computation over $indexDir kept racing concurrent " +
        "retirements after 5 attempts — is something deleting fold " +
        "records outside compactSegments/retireSegments?")
  }

  /** The segments a reader should scan RIGHT NOW: the complete ones,
    * minus any named in a complete compacted segment's `folds` record.
    * This filter is what makes compaction atomic for readers — a
    * CONSISTENT listing sees either the old set (compacted segment
    * incomplete → not listed, victims still present) or the new set
    * (compacted segment complete → its fold record excludes every
    * victim whether or not retirement has deleted them yet), never
    * both, never neither; and [[segSnapshots]] retries a listing a
    * concurrent retirement made INconsistent (a listed segment dir
    * vanishing mid-pass), so the guarantee covers the
    * list-while-retiring race too (r17 review). The one remaining
    * race — a SCAN that pinned victim file paths before the fold and
    * executes after retirement — is the retirement grace window
    * documented on [[compactSegments]]. Fold records are written
    * TRANSITIVE at compaction time (a compaction of compactions
    * carries its victims' victims), so one record-read level is
    * always enough. */
  def activeSegments(indexDir: String): Seq[String] =
    activeSnapshots(indexDir).map(_._1)

  /** Reader-side active set: the MANIFEST when the index carries one
    * (ONE metadata read however many segments exist — on object
    * stores LIST is the slow call, and a year of tiered cadence holds
    * 10-30 segments = that many listStatus round-trips per query
    * without it; r17 verdict #5), else the listing fold-filter pass.
    * The manifest is only ever written FROM a fresh listing by the
    * mutators (publish/compact/retire), so it can lag a crashed
    * mutation by exactly that mutation — which reads as "the mutation
    * hasn't happened yet", the same state a pre-mutation listing
    * reader saw, and the idempotent retry of the mutation repairs it
    * (ExtSpec pins the repair). */
  private def activeSnapshots(
      indexDir: String): Seq[(String, Set[String])] =
    manifestSnapshots(indexDir)
      .getOrElse(activeSnapshotsByListing(indexDir))

  private def activeSnapshotsByListing(
      indexDir: String): Seq[(String, Set[String])] = {
    // the fold-record reads live INSIDE the retry with the listing
    // they came from: a newer compaction can retire a superseded
    // compacted segment between segSnapshots and readRecordOpt, in
    // which case the record read of a segment the listing said was
    // complete-with-folds returns None — silently dropping its victims
    // from the folded set and sending the reader at retired dirs. That
    // vanish is the same retryable inconsistency segSnapshots handles;
    // the whole active-set computation retries as ONE consistent pass
    // (r17 ADVICE low).
    var attempt = 0
    while (attempt < 5) {
      attempt += 1
      val snaps = segSnapshots(indexDir).filter(_._2("_SUCCESS"))
      val reads = snaps.filter(_._2("folds"))
        .map { case (p, _) => readRecordOpt(p, "folds") }
      if (!reads.contains(None)) {
        val folded = reads.flatten
          .flatMap(_.split("\n")).map(_.trim).filter(_.nonEmpty).toSet
        return snaps.filterNot { case (p, _) => folded.contains(segName(p)) }
      }
    }
    throw new IllegalStateException(
      s"active-segment computation over $indexDir kept racing " +
        "concurrent retirements after 5 attempts — is something " +
        "deleting fold records outside compactSegments/retireSegments?")
  }

  private val ManifestName = "manifest"

  /** Parse the index manifest if present and well-formed. Returns the
    * same (path, children) shape as the listing pass — the manifest
    * lists only ACTIVE segments, so `_SUCCESS` is implied and `folds`
    * never appears. An unknown version header or a malformed line
    * falls back to the listing (a FUTURE format must not be
    * mis-read by an old reader; a corrupt record must not wedge the
    * index — the listing is ground truth and the next mutation
    * rewrites the manifest). The header is `v1` or `v1 <stamp>` —
    * the stamp is [[updateManifest]]'s lost-update guard, ignored on
    * read.
    *
    * STALENESS verification (r18 ADVICE medium): a well-formed
    * manifest could in principle name RETIRED dirs — writers now
    * serialize on a lock in [[updateManifest]], so this guards
    * out-of-band tampering and pre-lock-era records rather than a
    * live race. Every manifest read verifies its entries against ONE
    * root listStatus (a single LIST call — the per-segment child
    * listings segSnapshots pays stay skipped, so reader metadata
    * remains O(1) calls): any named dir missing ⇒ fall back to the
    * listing pass, whose fold filter serves the correct post-fold
    * view, and the next successful mutation rewrites the manifest. */
  private def manifestSnapshots(
      indexDir: String): Option[Seq[(String, Set[String])]] =
    readRecordOpt(indexDir, ManifestName).flatMap { txt =>
      val lines = txt.split("\n").map(_.trim).filter(_.nonEmpty)
      val headOk = lines.headOption.exists { h =>
        h.split(" ") match {
          case Array("v1") => true
          case Array("v1", st) if st.nonEmpty && st.forall(_.isDigit) => true
          case _ => false
        }
      }
      if (!headOk) None
      else {
        val parsed = lines.drop(1).map { l =>
          l.split(" ") match {
            case Array(n, flavor)
                if n.startsWith("seg_") &&
                  (flavor == "bucketed" || flavor == "plain") =>
              val kids = if (flavor == "bucketed")
                Set("_SUCCESS", "buckets") else Set("_SUCCESS")
              Some((n, (segSpelling(Work.fs(s"$indexDir/$n")._2), kids)))
            case _ => None
          }
        }
        if (parsed.contains(None)) None
        else {
          val entries = parsed.flatten.toSeq
          val present =
            try {
              val (fsys, dirPath) = Work.fs(indexDir)
              if (!fsys.exists(dirPath)) Set.empty[String]
              else fsys.listStatus(dirPath).iterator
                .filter(_.isDirectory).map(_.getPath.getName).toSet
            } catch {
              case _: java.io.FileNotFoundException => Set.empty[String]
            }
          if (entries.exists(e => !present.contains(e._1))) None
          else Some(entries.map(_._2).sortBy(_._1))
        }
      }
    }

  /** Rewrite the index manifest from a FRESH listing — called by the
    * mutators (segment publish; compaction, BEFORE it retires).
    * Deriving the content from the listing (never incrementally) means
    * any successful mutation repairs any earlier crash's staleness.
    *
    * Lost-update guard (r18 ADVICE medium, hardened r19 review):
    * "two racing mutators both write a correct snapshot" only holds
    * when each write postdates all prior MUTATIONS — a writer whose
    * listing predates a concurrent mutation could land a snapshot that
    * either NAMES retired dirs (reader crash) or OMITS a just-published
    * segment (silently missing history until the next mutation).
    * Manifest writers therefore SERIALIZE on an exclusive lock record:
    * the listing, the stamp bump and the replace all happen inside it,
    * so no write can be derived from a listing older than another
    * writer's mutation in either direction (the first r19 spelling —
    * a stamp-conditional replace — closed only the listing-long window
    * and only the retired-dir direction survived the residual one;
    * reader-side verification in [[manifestSnapshots]] remains as the
    * belt for out-of-band manifest tampering). Never throws: false =
    * the manifest could not be refreshed (lock wait exhausted, IO) —
    * readers fall back or serve the stale (victims-still-on-disk)
    * view, and the caller decides what to gate on it (compaction
    * skips retirement). */
  private def updateManifest(indexDir: String): Boolean =
    try {
      Work.withExclusiveRecord(indexDir, "_lock_manifest",
        staleMs = 60000L, waitMs = 10000L) {
        val s0 = readRecordOpt(indexDir, ManifestName)
          .flatMap(_.split("\n").headOption)
          .map(_.trim.split(" "))
          .collect { case Array("v1", st) if st.forall(_.isDigit) &&
            st.nonEmpty => st.toLong }
          .getOrElse(0L)
        val active = activeSnapshotsByListing(indexDir)
        val body = (s"v1 ${s0 + 1}" +: active.map { case (p, kids) =>
          s"${segName(p)} ${if (kids("buckets")) "bucketed" else "plain"}"
        }).mkString("\n")
        Work.replaceSmallRecord(indexDir, ManifestName, body)
      }
      true
    } catch { case scala.util.control.NonFatal(_) => false }

  private def segName(path: String): String =
    path.substring(path.lastIndexOf('/') + 1)

  def segmentedIndexFrames(s: SparkSession,
      indexDir: String): (DataFrame, DataFrame) = {
    val segs = activeSegments(indexDir)
    require(segs.nonEmpty,
      s"segmented history index at $indexDir has no complete segment")
    (s.read.parquet(segs.map(p => s"$p/sh"): _*),
      s.read.parquet(segs.map(p => s"$p/bb"): _*))
  }

  /** [[incrementalAgainstIndex]] over a segmented index: the increment
    * joins the union of all ACTIVE segments — identical rows to a
    * monolithic index over the concatenated history (ExtSpec pins it),
    * with per-day ingest ∝ batch instead of ∝ history. Flavor-aware:
    * plain segments are one multi-path scan, bucketed (compacted)
    * segments keep their exchange-free join plan
    * ([[incrementalAgainstFlavors]]). */
  def incrementalAgainstSegmentedIndex(s: SparkSession, indexDir: String,
      increment: DataFrame): DataFrame =
    incrementalAgainstFlavors(s, segmentedIndexFlavors(s, indexDir),
      increment, indexDir)

  /** Composition face of [[incrementalAgainstSegmentedIndex]] for a
    * caller that already shingled (and CACHED) its increment: `shI`
    * is `shingleSets(increment)`-shaped `(doc_id, shs, n)`. Fully
    * LAZY — no internal persist, count or materialize: the caller's
    * one materializing action runs the whole probe+verify pipeline
    * (r19 verdict #1 — the curation stream paid a second shingle
    * pass, a persist+count and a materialize parquet round-trip of
    * per-batch fixed overhead through the batch face). The caller
    * owns the `shI` cache lifetime (keep it cached until the
    * consuming action ran). A multi-flavor index re-runs the MinHash
    * banding per flavor — map-side CPU over the cached increment,
    * bounded by the (micro-batch-sized) increment, the price of
    * laziness; the batch face's persist+count spelling remains the
    * right shape for multi-consumer batch callers. */
  def incrementalAgainstSegmentedIndexShingled(s: SparkSession,
      indexDir: String, shI: DataFrame): DataFrame = {
    val flavors = segmentedIndexFlavors(s, indexDir)
    // the same opt-in disjoint-id fail-fast the batch face enforces
    // (r20 review: routing the curation stream through this face had
    // silently dropped it): overlapping or history-duplicated ids
    // corrupt the verify join and the callers' doc_id-keyed
    // rejection — when the debug conf is on, fail pointedly
    if (s.conf.getOption("spark.graft.dedup.checkDisjointIds")
        .contains("true")) {
      val shH = flavors.map(_._1.select("doc_id")).reduce(_ unionByName _)
      val overlap = shH.join(shI.select("doc_id"), "doc_id").limit(5)
        .collect().map(_.getLong(0))
      require(overlap.isEmpty,
        s"incremental dedup: increment doc_ids overlap the history " +
          s"index at $indexDir (e.g. ${overlap.mkString(", ")}) — " +
          "re-crawled docs must carry fresh ids")
      val dup = shH.groupBy("doc_id").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).limit(5).collect().map(_.getLong(0))
      require(dup.isEmpty,
        s"incremental dedup: the history index at $indexDir carries " +
          s"duplicate doc_ids (e.g. ${dup.mkString(", ")}) — was one " +
          "batch folded into two segments under different ids?")
    }
    val bI = bandBuckets(minhashSignatures(shI))
    flavors.map { case (shH, bH) =>
      verifyJaccardSplit(crossSideCandidates(bH, bI), shH, shI)
    }.reduce(_ unionByName _)
  }

  /** The stored-side frames of a segmented index, grouped by layout
    * flavor: all plain segments as ONE multi-path (sh, bb) scan pair,
    * plus one bucketed pair PER compacted-bucketed segment (each
    * carries its own bucket spec; a cross-segment union would shed
    * it). The steady-state 100 TB shape is one big bucketed compacted
    * segment plus a small plain tail of recent days (r16 verdict #3). */
  def segmentedIndexFlavors(s: SparkSession,
      indexDir: String): Seq[(DataFrame, DataFrame)] = {
    val snaps = activeSnapshots(indexDir)
    require(snaps.nonEmpty,
      s"segmented history index at $indexDir has no complete segment")
    // LSH-plan agreement (r19 verdict #7): a segment published under a
    // DIFFERENT banding must fail the probe POINTEDLY — equal-bucket
    // candidates across differently-banded sides silently lose recall,
    // the one wrong answer. One small record read per active segment
    // (the bucketCountOf order of work; the manifest path flattens
    // children to _SUCCESS/buckets, so presence cannot be derived from
    // the snapshot). A segment without the record predates the plan
    // token — all such publishes used the default plan.
    snaps.foreach { case (p, _) =>
      readRecordOpt(p, "lshplan").foreach { tok =>
        val sp = parseBandPlan(tok.trim, s"$p/lshplan")
        require(sp == DefaultBandPlan,
          s"history segment $p was published under LSH plan " +
            s"'${sp.token}' but this probe bands with " +
            s"'${DefaultBandPlan.token}' — republish the segment or " +
            "probe with the matching plan")
      }
    }
    // flavor split straight off the listing snapshot — no extra
    // per-segment metadata probe (r17 review)
    val (bucketedSegs, plainSegs) = {
      val (b, p) = snaps.partition(_._2("buckets"))
      (b.map(_._1), p.map(_._1))
    }
    val plain =
      if (plainSegs.isEmpty) Seq.empty
      else Seq((s.read.parquet(plainSegs.map(p => s"$p/sh"): _*),
        s.read.parquet(plainSegs.map(p => s"$p/bb"): _*)))
    plain ++ bucketedSegs.map(p => bucketedHistoryIndex(s, p))
  }

  /** LSM-fold `victims` (complete, active segments; default = every
    * currently active one) into ONE compacted segment `seg_<compactId>`
    * — re-LAYOUT only: the stored sh/bb parquet is read back and
    * rewritten, nothing is re-shingled or re-hashed. `bucketed=true`
    * (the steady-state default) writes the compacted segment in the
    * CLUSTERED-BY layout of [[publishHistoryIndexBucketed]], so the
    * one big history segment joins exchange-free while fresh daily
    * segments keep landing plain beside it.
    *
    * Commit/race discipline: the compacted segment publishes under the
    * same `_SUCCESS` gate as any segment, carrying a `folds` record
    * that names every victim (transitively — a victim's own fold
    * record is folded in, so [[activeSegments]] never needs to chase
    * chains). A reader listing BEFORE the publish completes sees the
    * old set; listing AFTER sees the new set ([[activeSegments]]'s
    * fold filter — victims are excluded the instant the compacted
    * segment is complete, deleted or not); there is no listing that
    * sees both or neither. Victim dirs are then retired; a crash
    * between publish and retire leaves a correct index (victims
    * present but fold-filtered) and RETRYING the same compactId
    * finishes the retirement (`_SUCCESS` short-circuit, then
    * [[retireSegments]] of the recorded folds). Production note: an
    * in-flight SCAN that pinned victim paths before the fold can still
    * be reading them — retire after the longest query deadline (the
    * standard LSM grace window), which is a deployment knob, not an
    * index-format one; `retire=false` leaves retirement to the caller.
    *
    * `adoptAligned` (default true): bucket-aligned victims under the
    * file dial are adopted at the raw file level (the append spelling
    * — zero history IO), with the dial bounding the RESULT's
    * per-bucket multiplicity (largest victims win the budget; the
    * overflow is demoted to the collapse). `adoptAligned = false`
    * forces the collapse for every victim — what a MAJOR compaction
    * wants (reset file count), and what [[maybeCompact]]'s major
    * passes.
    *
    * `concatAligned` (default false; r18 verdict #4): the collapse of
    * bucket-ALIGNED victims runs as a raw per-bucket row-group CONCAT
    * ([[concatBucketedSub]] — byte copy, no decode/shuffle/re-encode)
    * instead of the Spark rewrite; plain/misaligned victims still
    * rewrite (they need the shuffle into the bucket layout anyway).
    * The merged files lose whole-file sort order, so the segment
    * publishes with the `unsorted` layout flag and readers declare it
    * without SORTED BY — plans that need an order sort explicitly
    * (correct always; in the broadcast regime the flag is moot). The
    * tradeoff is the LSM classic: byte-copy-speed majors against a
    * possible stored-side sort in sort-merge-join plans.
    *
    * Concurrent compactors (r18 verdict #3 — enforced, not
    * convention): every compaction runs under an index-level LEASE
    * record (`_lease_compact`, created with the same no-overwrite
    * rename primitive as the publish commit). Two compactors racing
    * with the SAME id converge — the loser waits on the lease and
    * lands in `committed()` when the winner's target appears; two
    * compactors with DIFFERENT ids (the overlapping-victims hazard:
    * both could commit, two active compacted segments would carry the
    * same history docs, and incremental queries would emit duplicated
    * pairs — r17 ADVICE) now FAIL CLEANLY: the second acquirer gets a
    * pointed error naming the holder instead of double-publishing. A
    * crashed holder's lease goes stale after
    * `-Dgraft.dedup.compactLeaseMs` (default 15 min) and is taken
    * over. [[compactIdFor]] remains the way independent compactors
    * that picked the same victim set converge on one target. */
  /** Deterministic compaction id for a victim set: independent
    * compactors that each decided to fold the same segments derive
    * the SAME id, so the race collapses onto [[compactSegments]]'s
    * same-compactId ladder (one commits, the rest find `committed()`)
    * instead of double-publishing the history under two ids. Stable
    * across orderings and `seg_` spelling. */
  def compactIdFor(victims: Seq[String]): String = {
    val canon = victims.map(v =>
      if (v.startsWith("seg_")) v else s"seg_$v").distinct.sorted
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(canon.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    "fold_" + d.take(8).map(b => f"$b%02x").mkString
  }

  /** Non-canonical members of every connected component of a BOUNDED
    * edge set, computed driver-side: collect the (a, b) pairs, run
    * union-find with path compression, return every node whose
    * component minimum is not itself. EXACTLY the reject set of
    * `connectedComponents(nodes, edges).filter(doc_id != cluster)`
    * restricted to edge-touched nodes — isolated nodes are canonical
    * in both spellings and never appear. The caller gates on a row
    * cap (this is the broadcast-threshold pattern: a micro-batch's
    * verified pair set is usually tiny, and the distributed min-label
    * fixed point pays ~12 Spark jobs of fixed overhead per batch for
    * it; past the cap the caller falls back to the distributed CC —
    * r19 verdict #1). The collect is bounded by the caller's cap,
    * never by data size. */
  private[graft] def unionFindRejects(pairs: DataFrame): Seq[Long] =
    unionFindMinRoots(
      pairs.select(col("a").cast("long"), col("b").cast("long")).collect())
      .map(_._1).sorted

  /** Min-root union-find over collected (a, b) long-castable rows —
    * the ONE driver-side core behind [[unionFindRejects]] and the
    * bounded-edge shortcut in [[connectedComponents]] (r20 review #5:
    * the pattern had been copied verbatim). Returns (node, component
    * minimum) for every NON-CANONICAL edge-touched node; canonical
    * nodes map to themselves and need no row (the isolated-node
    * coalesce produces self-labels anyway). Rows with a null endpoint
    * are SKIPPED — the distributed fixed point's behavior for the
    * same input (a null key matches no label join and min() ignores
    * it), so the two paths stay label-identical on degenerate edges
    * (r20 review #3). */
  private[graft] def unionFindMinRoots(
      rows: Array[org.apache.spark.sql.Row]): Seq[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.getOrDefault(c, c) != c) {
        val n = parent.get(c); parent.put(c, r): Unit; c = n
      }
      r
    }
    rows.foreach { row =>
      if (!row.isNullAt(0) && !row.isNullAt(1)) {
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) {
          // union by MIN root: the canonical label is the component
          // minimum, so rooting at the min makes find() return it
          if (ra < rb) parent.put(rb, ra): Unit
          else parent.put(ra, rb): Unit
        }
      }
    }
    import scala.jdk.CollectionConverters._
    parent.keySet.asScala.iterator.map(x => (x.toLong, find(x)))
      .filter { case (x, r) => r != x }.toSeq
  }

  private val CompactLease = "_lease_compact"

  /** Stale-lease horizon: a lease older than this belongs to a crashed
    * compactor and is taken over. Size it past the longest expected
    * fold wall. */
  private def compactLeaseStaleMs: Long =
    sys.props.get("graft.dedup.compactLeaseMs").map(_.toLong)
      .getOrElse(15L * 60 * 1000)

  /** Acquire the index-level compaction lease (see [[compactSegments]]
    * scaladoc). Returns Some(ownerToken) when acquired — the exact
    * record content, which [[releaseCompactLease]] compares WHOLE
    * (r19 review: a compactId-prefix match let a stalled holder delete
    * a same-id taker's live lease on resume) — or None when the wait
    * resolved by CONVERGENCE (our target became complete under a
    * same-id sibling). Throws, pointedly, when a DIFFERENT live
    * compaction holds the lease — the overlapping-victims
    * double-commit hazard this lease exists to exclude. */
  private def acquireCompactLease(indexDir: String, compactId: String,
      target: String): Option[String] = {
    while (true) {
      val token = s"$compactId ${System.currentTimeMillis()} " +
        java.util.UUID.randomUUID().toString.take(8)
      if (Work.createSmallRecordExclusive(indexDir, CompactLease, token))
        return Some(token)
      if (Work.isComplete(target)) return None
      Work.readSmallRecord(indexDir, CompactLease) match {
        case None => () // freed between probe and read — retry create
        case Some(txt) =>
          val parts = txt.trim.split(" ")
          val holder = parts.headOption.getOrElse("")
          val stamp = parts.lift(1).flatMap(_.toLongOption).getOrElse(0L)
          if (System.currentTimeMillis() - stamp > compactLeaseStaleMs) {
            // crashed holder — content-conditional reclaim (r19
            // ADVICE: a bare delete let the second of two racing
            // reclaimers delete the first's freshly created LIVE
            // lease — a double-held compaction lease re-opens exactly
            // the overlapping-victims double-publish this lease
            // exists to exclude; see Work.deleteRecordIfContent for
            // the race ladder, including why rename-to-tombstone
            // alone is insufficient)
            Work.deleteRecordIfContent(indexDir, CompactLease, txt): Unit
          } else if (holder == compactId)
            // a live sibling is folding OUR victim set — wait for its
            // commit (convergence) or its release
            Thread.sleep(100L)
          else
            throw new IllegalStateException(
              s"compaction of $indexDir: a concurrent compactor " +
                s"'$holder' holds the lease (stamp $stamp) and this " +
                s"fold's id '$compactId' differs — overlapping victim " +
                "sets under different ids would double-publish the " +
                "history; wait for the holder, or remove " +
                s"$indexDir/$CompactLease if it crashed")
      }
    }
    None // unreachable
  }

  /** Best-effort release: delete the lease only while its content is
    * EXACTLY our token (a stale takeover — even a same-id one — may
    * have replaced it; never delete the taker's). */
  private def releaseCompactLease(indexDir: String,
      token: String): Unit =
    try {
      // content-conditional (r19 review kept the compare; r19 ADVICE
      // moved the compare UNDER the reclaim mutex — the bare
      // compare-then-delete had its own tiny steal window). Mutex-busy
      // retries briefly, then leaves the lease to the stale horizon.
      var attempts = 0
      while (attempts < 3 &&
          Work.readSmallRecord(indexDir, CompactLease)
            .map(_.trim).contains(token) &&
          !Work.deleteRecordIfContent(indexDir, CompactLease, token)) {
        attempts += 1
        Thread.sleep(50L)
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  def compactSegments(s: SparkSession, indexDir: String, compactId: String,
      victims: Seq[String] = Seq.empty, bucketed: Boolean = true,
      retire: Boolean = true, graceMs: Long = 0L,
      adoptAligned: Boolean = true,
      concatAligned: Boolean = false): String = {
    require(compactId.matches("[A-Za-z0-9._-]+"),
      s"compaction id must be a plain file-name token, got '$compactId'")
    val target = s"$indexDir/seg_$compactId"
    // retry of a crashed compaction — or a SIBLING JVM committing the
    // same compactId first (the shared fixed-path witness does exactly
    // this): the fold already committed; finish the retirement its own
    // record names and return. Checked again below after any
    // victim-lookup or staging failure, so a loser of the race lands
    // here instead of surfacing a spurious error (r17 review).
    def committed(): String = {
      // manifest BEFORE retirement (r18 review): the fold already
      // excludes the victims from the active set, so the manifest must
      // stop naming them before their dirs can be deleted — a reader
      // resolving through a manifest that names deleted dirs would
      // crash instead of falling back (the manifest parses fine; only
      // its content is stale). If the manifest update itself failed,
      // retirement is SKIPPED this pass: staleness with victims still
      // on disk is the safe direction, and the next mutation's update
      // repairs both. Retirement itself never changes the active set
      // (victims are fold-filtered whether present or deleted), so no
      // post-retire update is needed.
      val manifestFresh = updateManifest(indexDir)
      if (retire && manifestFresh) {
        if (graceMs <= 0L) {
          val folded = readRecordOpt(target, "folds").toSeq
            .flatMap(_.split("\n")).map(_.trim).filter(_.nonEmpty)
          retireSegmentsImpl(Some(s), indexDir,
            folded.filterNot(_ == s"seg_$compactId"),
            refreshManifest = false)
        } else
          // grace window (r17 verdict #7): defer each victim until its
          // fold's marker is older than graceMs — the sweep also
          // finishes any EARLIER fold's deferred retirement
          retireFoldedImpl(Some(s), indexDir, graceMs,
            refreshManifest = false)
      }
      target
    }
    if (Work.isComplete(target)) return committed()
    // lease BEFORE reading the active set (r18 verdict #3): victim
    // selection and staging must not interleave with another
    // compactor's fold/retire; None means a same-id sibling completed
    // our target while we waited — pure convergence
    val leaseToken = acquireCompactLease(indexDir, compactId, target) match {
      case None => return committed()
      case Some(tok) => tok
    }
    try {
    if (Work.isComplete(target)) return committed()
    val active = activeSegments(indexDir)
    val chosen = if (victims.isEmpty) active else victims.map { v =>
      val n = if (v.startsWith("seg_")) v else s"seg_$v"
      active.find(segName(_) == n).getOrElse {
        if (Work.isComplete(target)) return committed()
        throw new IllegalArgumentException(
          s"victim $n is not a complete, active segment of $indexDir " +
            "— already folded, incomplete, or absent")
      }
    }
    if (chosen.isEmpty && Work.isComplete(target)) return committed()
    require(chosen.nonEmpty,
      s"segmented history index at $indexDir has nothing to compact")
    // transitive fold set: victims + everything they already folded
    val folds = (chosen.map(segName) ++ chosen.flatMap(p =>
      readRecordOpt(p, "folds").toSeq.flatMap(_.split("\n"))
        .map(_.trim).filter(_.nonEmpty))).distinct.sorted
    def stageAll(useConcat: Boolean): Unit = Work.publish(target) { tmp =>
      if (bucketed) {
        // bucket-ALIGNED victims (already published with the target
        // spec — the standing compacted segment of a weekly/major
        // fold) are folded by ADOPTING their data files verbatim
        // (hard link / raw copy — r18, the append spelling): the
        // standing history costs the fold no scan, no shuffle, no
        // rewrite — only the plain/misaligned tail is ever staged
        // through Spark, so the weekly fold's wall is ∝ tail. The
        // adoption preserves the victim's per-bucket FILE multiplicity
        // (+1 file/bucket per folded tail part), so once the standing
        // segment reaches [[AlignedFoldMaxFilesPerBucket]] the fold
        // degrades to a COLLAPSE back to one file per bucket — the
        // IO-vs-file-count dial of any LSM. The collapse itself is the
        // decoding rewrite, or — `concatAligned` (r18 verdict #4) —
        // the raw row-group concat of [[concatBucketedSub]], which
        // resets the file count at byte-copy cost instead of
        // decode+shuffle+re-encode cost.
        val alignedAll = chosen.filter(p =>
          bucketCountOf(p).contains(HistIdxBuckets))
        // ONE shLayout listing per aligned victim serves both the dial
        // filter and the greedy's byte ordering (r19 review: the
        // filter's filesPerBucket re-listed what the greedy's shLayout
        // had already fetched — two LIST round-trips per victim)
        val layouts = alignedAll.map(p => (p, shLayout(p))).toMap
        val adoptCand =
          if (!adoptAligned) Seq.empty[String]
          else alignedAll.filter(p =>
            layouts(p)._1 < AlignedFoldMaxFilesPerBucket)
        // the dial bounds the RESULT's per-bucket multiplicity, not
        // just each victim's (r18 tiered re-run: a MAJOR adopting
        // three 1-file/bucket weeklies landed sum+1 files per bucket —
        // 262 files where the rewrite collapsed to ~70, regrowing the
        // small-files problem the dial exists to bound). Greedy by
        // BYTES, largest victim first — adoption's savings are the
        // victim's bytes, so the weekly cadence's one big standing
        // segment wins the budget even when a gaggle of many-file
        // small victims competes (r18 ADVICE: the former file-count
        // ordering put the 1-file standing segment LAST); file count
        // remains the budget COST, and one multiplicity slot stays
        // reserved for the staged part. Victims that don't fit are
        // demoted to the collapse side.
        val aligned = {
          var sum = 0
          val budget = AlignedFoldMaxFilesPerBucket - 1
          adoptCand
            .map { p => val (f, bytes) = layouts(p); (p, f, bytes) }
            .sortBy(-_._3).filter { case (_, f, _) =>
              if (sum + f <= budget) { sum += f; true } else false
            }.map(_._1)
        }
        // collapse routing: aligned victims not adopted (over-dial, or
        // an adoptAligned=false major) go through the raw concat when
        // asked; everything else — plain segments, misaligned bucket
        // counts — must be rewritten through Spark (they need the
        // shuffle into the bucket layout anyway)
        val concatFrom =
          if (!useConcat) Seq.empty[String]
          else alignedAll.filterNot(aligned.toSet)
        val rest = chosen.filterNot((aligned ++ concatFrom).toSet)
        val restSh =
          if (rest.isEmpty) Seq.empty
          else Seq((s.read.parquet(rest.map(p => s"$p/sh"): _*), false))
        val restBb =
          if (rest.isEmpty) Seq.empty
          else Seq((s.read.parquet(rest.map(p => s"$p/bb"): _*), false))
        stageBucketedIndexParts(s, tmp, HistIdxBuckets,
          restSh, restBb, linkFrom = aligned, concatFrom = concatFrom)
      } else {
        val sh = s.read.parquet(chosen.map(p => s"$p/sh"): _*)
        val bb = s.read.parquet(chosen.map(p => s"$p/bb"): _*)
        sh.write.mode("overwrite").parquet(s"$tmp/sh")
        bb.write.mode("overwrite").parquet(s"$tmp/bb")
      }
      writeRecord(tmp, "folds", folds.mkString("\n"))
    }: Unit
    try stageAll(concatAligned)
    catch {
      // schema drift across victims: the raw row-group concat is
      // undefined there — fall back to the decoding rewrite (correct
      // for any schema mix), loudly
      case e: ConcatUnsupported if concatAligned =>
        System.err.println(s"[graft] WARNING concat collapse of " +
          s"$indexDir unavailable (${e.getMessage}) — falling back to " +
          "the decoding rewrite")
        try stageAll(false)
        catch {
          case scala.util.control.NonFatal(e2) =>
            if (!Work.isComplete(target)) throw e2
        }
      // a sibling's commit can fail OUR staging mid-read (it may
      // retire the victim files under us) or our rename — if the
      // target is complete the fold happened, and that is the outcome
      // the caller asked for
      case scala.util.control.NonFatal(e) =>
        if (!Work.isComplete(target)) throw e
    }
    committed()
    } finally releaseCompactLease(indexDir, leaseToken)
  }

  /** Delete retired segment dirs (by name) from a segmented index —
    * safe any time after the compaction that folded them is complete,
    * because [[activeSegments]] already excludes them; see the grace-
    * window note on [[compactSegments]]. Idempotent. Any catalog
    * entries a [[bucketedHistoryIndex]] reader declared over a retired
    * BUCKETED segment are dropped too (best-effort): the per-path-tag
    * DROP in declare() only covers republishes at the SAME path, and a
    * compaction-of-compactions retires whole segment paths — without
    * this, a long-lived metastore would accumulate one external-table
    * pair per retired compacted segment, each pointing at a deleted
    * location (r17 review). */
  def retireSegments(indexDir: String, segNames: Seq[String]): Unit =
    retireSegments(
      SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession),
      indexDir, segNames)

  /** Session-explicit twin — [[compactSegments]] passes its own
    * session through so the catalog cleanup cannot silently no-op on
    * a thread with no active session (r17 review #2). */
  def retireSegments(session: Option[SparkSession], indexDir: String,
      segNames: Seq[String]): Unit =
    retireSegmentsImpl(session, indexDir, segNames,
      refreshManifest = true)

  private def retireSegmentsImpl(session: Option[SparkSession],
      indexDir: String, segNames: Seq[String],
      refreshManifest: Boolean): Unit = {
    if (segNames.isEmpty) return
    // manifest BEFORE deletion, the same ordering rule as
    // compactSegments (r18 review): the active set already excludes
    // folded victims, so a fresh rewrite here stops a STALE manifest
    // (a crashed fold's, or one whose in-compactor refresh failed)
    // from naming dirs this call is about to delete — and when even
    // this refresh fails, deletion is SKIPPED: victims-on-disk under a
    // stale manifest is the safe direction, deleted-under-a-manifest-
    // that-names-them is a reader crash. The in-compactor path passes
    // refreshManifest=false (it refreshed an instant ago).
    if (refreshManifest && !updateManifest(indexDir)) return
    segNames.foreach { n =>
      require(n.startsWith("seg_"), s"not a segment name: $n")
      // normalize to the same spelling the reader declared tables
      // under ([[segSpelling]]) — a caller-spelled 'file:/...' or a
      // scheme-less path on a non-local defaultFS would otherwise
      // derive a DIFFERENT tag and the DROP would match nothing
      // (r17 review #1)
      val path = segSpelling(Work.fs(s"$indexDir/$n")._2)
      session.foreach { s =>
        val tag = Work.publishTag(path).replaceAll("[^A-Za-z0-9_]", "_")
        try s.sql(s"SHOW TABLES LIKE 'graft_hidx_*_$tag*'").collect()
          .map(_.getString(1))
          .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
        catch { case scala.util.control.NonFatal(_) => () }
      }
      Work.clean(path)
    }
    // no POST-delete update: retirement only ever deletes segments the
    // active set already excludes (fold-filtered), so the manifest
    // content is unchanged by the deletions themselves (the former
    // trailing update doubled the per-mutation metadata bill and left
    // a window where a well-formed manifest named deleted dirs).
    // Retiring an ACTIVE segment out-of-band is not a supported
    // operation.
  }

  /** Retire every GRACE-ELIGIBLE folded victim of a segmented index:
    * for each complete compacted segment whose `_SUCCESS` marker is
    * older than `graceMs`, delete the victims its fold record names
    * (those still present). This makes the retirement grace window an
    * executable knob instead of a scaladoc note (r17 verdict #7): an
    * in-flight scan that pinned victim FILE PATHS before a fold
    * committed can still be reading them after the fold filter hides
    * the victims from new listings — size `graceMs` past the longest
    * query deadline and a fold+retire can never pull files out from
    * under a running query. `graceMs = 0` retires everything folded,
    * immediately. Idempotent; safe on any cadence (each compaction
    * with a grace also sweeps its predecessors' now-eligible victims
    * via [[compactSegments]]'s committed path). */
  def retireFolded(session: Option[SparkSession], indexDir: String,
      graceMs: Long = 0L): Unit =
    retireFoldedImpl(session, indexDir, graceMs, refreshManifest = true)

  private def retireFoldedImpl(session: Option[SparkSession],
      indexDir: String, graceMs: Long,
      refreshManifest: Boolean): Unit = {
    val (fsys, dirPath) = Work.fs(indexDir)
    if (!fsys.exists(dirPath)) return
    val snaps = segSnapshots(indexDir).filter(_._2("_SUCCESS"))
    val present = snaps.map { case (p, _) => segName(p) }.toSet
    val now = System.currentTimeMillis()
    val eligible = snaps.filter(_._2("folds")).flatMap { case (p, _) =>
      val marker = new org.apache.hadoop.fs.Path(
        Work.fs(p)._2, "_SUCCESS")
      // a vanished marker (concurrent retirement of p itself) reads as
      // ineligible this pass — the next sweep sees the settled state
      val age =
        try now - fsys.getFileStatus(marker).getModificationTime
        catch { case _: java.io.FileNotFoundException => -1L }
      if (age >= 0L && age >= graceMs)
        readRecordOpt(p, "folds").toSeq
          .flatMap(_.split("\n")).map(_.trim).filter(_.nonEmpty)
          .filter(_ != segName(p)).filter(present.contains)
      else Seq.empty
    }.distinct
    if (eligible.isEmpty) return
    // one refresh covers the whole sweep (victims are fold-excluded,
    // so the manifest content is the same before and after deletion);
    // a failed refresh skips the sweep — the deletion-under-a-stale-
    // manifest rule of retireSegmentsImpl
    if (refreshManifest && !updateManifest(indexDir)) return
    retireSegmentsImpl(session, indexDir, eligible,
      refreshManifest = false)
  }

  /** Declarative compaction cadence for a segmented index — the
    * measured StressMain orchestrations (SCALE.md r17: daily append,
    * weekly fold, tiered minor/major) as default production behavior
    * instead of hand-called compact steps (r17 verdict #8). Consulted
    * after each fold by [[graft.streaming.StreamingDedup
    * .segmentedFoldBatch]] (or any caller, via [[maybeCompact]]):
    *
    *  - `minorTail`: when the index holds ≥ this many PLAIN segments,
    *    fold them — plus the standing bucketed segment while it is
    *    still under the file dial, which the append-spelling link fold
    *    adopts for free — into one bucketed segment. Wall ∝ tail.
    *  - `majorFlavors`: when the index holds ≥ this many BUCKETED
    *    segments (dial-tripped standings accumulate one per
    *    collapse cycle), fold EVERYTHING into one — the ∝-history
    *    major that resets both file count and flavor count. ≤0
    *    disables majors.
    *  - `graceMs`: retirement grace window, passed through.
    *  - `majorConcat`: how majors collapse bucket-aligned victims —
    *    `"off"` = the Spark rewrite (decode + shuffle + re-encode;
    *    keeps whole-file sort order for SMJ-regime readers), `"on"` =
    *    raw row-group concat (byte copy, no decode — r18 verdict #4;
    *    publishes the `unsorted` layout flag), `"auto"` (default;
    *    r19 verdict #3) = decide PER MAJOR from the victims' total
    *    sh row count, read driver-side from parquet FOOTERS (no
    *    Spark job): below `concatRowsMin` the 32-core rewrite wins
    *    (per-file fixed cost dominates the concat), above it the
    *    byte copy wins and keeps winning as history grows (measured
    *    crossover ~100k rows on the dev box — StressMain
    *    major_concat: −10% at 41k, +10% at 125k, +54% at 485k).
    *  - `concatRowsMin`: the auto crossover, in sh rows. Deployments
    *    re-measure on their storage and carry the value through the
    *    registry-versioned policy token.
    *
    * Compaction ids derive from [[compactIdFor]] over the victim set,
    * so two siblings applying the same policy to the same index
    * converge on one target instead of double-committing (single
    * writer per index remains the deployment default). NOTE the auto
    * decision is taken from each sibling's OWN footer read — two
    * siblings racing the same major at a row count razor-close to the
    * threshold could pick different modes, but they share the
    * [[compactIdFor]] id, so the same-id ladder still collapses them
    * onto one committed segment (either mode's result is correct;
    * `unsorted` is a per-segment flag). */
  final case class CompactionPolicy(minorTail: Int = 7,
      majorFlavors: Int = 4, graceMs: Long = 0L,
      majorConcat: String = "auto",
      concatRowsMin: Long = 100000L) {
    require(minorTail >= 1, "minorTail must be >= 1")
    require(Set("off", "on", "auto")(majorConcat),
      s"majorConcat must be off|on|auto, got '$majorConcat'")
    require(concatRowsMin >= 0, "concatRowsMin must be >= 0")
  }

  /** Apply `policy` to the index if a threshold is crossed; returns
    * the compacted segment path if a fold ran. Majors win over minors
    * when both trip (one pass folds everything anyway). */
  def maybeCompact(s: SparkSession, indexDir: String,
      policy: CompactionPolicy): Option[String] = {
    val snaps = activeSnapshots(indexDir)
    val (bucketedSegs, plainSegs) = snaps.partition(_._2("buckets"))
    if (policy.majorFlavors > 0 &&
        bucketedSegs.size >= policy.majorFlavors) {
      val victims = snaps.map { case (p, _) => segName(p) }
      // adoptAligned=false: a MAJOR exists to RESET file count and
      // flavor fan-out — adopting the small under-dial weeklies would
      // save marginal IO and keep their file multiplicity. The
      // collapse itself is the ∝-history rewrite, or — majorConcat —
      // the raw row-group concat (∝-history BYTE COPY, no decode;
      // r18 verdict #4). "auto" (r19 verdict #3) reads the victims'
      // total sh row count off their parquet footers and picks the
      // measured winner per major.
      val concat = policy.majorConcat match {
        case "on" => true
        case "off" => false
        case _ =>
          val rows = shFooterRows(snaps.map(_._1))
          val pick = rows >= policy.concatRowsMin
          System.err.println(s"[graft] majorConcat=auto over " +
            s"$indexDir: $rows sh rows vs crossover " +
            s"${policy.concatRowsMin} -> " +
            (if (pick) "concat (byte copy)" else "rewrite"))
          pick
      }
      Some(compactSegments(s, indexDir, compactIdFor(victims),
        victims, graceMs = policy.graceMs, adoptAligned = false,
        concatAligned = concat))
    } else if (plainSegs.size >= policy.minorTail) {
      // the under-dial standing segment rides along for free (adopted,
      // never read); dial-tripped ones are left to accumulate toward
      // the major — folding them here would pay the ∝-history rewrite
      // on a MINOR, which is exactly what the tiered cadence avoids
      val standing = bucketedSegs.map(_._1)
        .filter(p => filesPerBucket(p) < AlignedFoldMaxFilesPerBucket)
      val victims = (plainSegs.map(_._1) ++ standing).map(segName)
      Some(compactSegments(s, indexDir, compactIdFor(victims),
        victims, graceMs = policy.graceMs))
    } else None
  }

  private val histIdxSegDone = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]

  /** Witness: the documents table split into two segments (the two
    * halves of a crawl ingested on different days), increment = the
    * planted re-crawls — same oracle as the monolithic twins. */
  val incrementalSeg = QueryDef(
    "dedup_incremental_seg",
    (s, dir) => {
      val path = s"${Work.dir}/inc_hidxseg_v2_${Work.publishTag(dir)}"
      ensureIdx(histIdxSegDone, s, path) {
        // deterministic segment ids: a second session re-running the
        // ensure block hits the _SUCCESS short-circuit instead of
        // appending duplicate segments to the shared artifact
        val docs = Tables(s, dir, "documents").select("doc_id", "text")
        publishHistorySegment(s, path, "day0",
          docs.filter(col("doc_id") % 2 === 0))
        publishHistorySegment(s, path, "day1",
          docs.filter(col("doc_id") % 2 =!= 0)): Unit
      }
      incrementalAgainstSegmentedIndex(s, path,
        plantedCorpus(Tables(s, dir, "documents"))
          .filter(col("doc_id") >= PlantedOffset))
    },
    Some(incrementalOracleSql))

  private val histIdxSegCDone = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]

  /** Witness of the composed steady-state layout (r16 verdict #2-3):
    * history ingested as three daily segments, the two oldest
    * LSM-folded into ONE bucketed compacted segment (re-layout only,
    * no re-shingle), the newest left as the plain tail — the reader
    * unions both flavors and the increment dedups against the same
    * logical history as the plain segmented twin (same oracle, and
    * the driver's hash gate pins row identity). Victims are NOT
    * retired here: the artifact is shared across concurrent sessions
    * at a fixed path, and deleting folded dirs under a sibling JVM
    * mid-scan is the exact race the retirement grace window exists
    * for — the fold filter already hides them from every reader, so
    * retirement is pure disk economy (pinned on scratch paths in
    * ExtSpec instead). */
  val incrementalSegCompacted = QueryDef(
    "dedup_incremental_seg_compacted",
    (s, dir) => {
      val path = s"${Work.dir}/inc_hidxsegc_v2_${Work.publishTag(dir)}"
      ensureIdx(histIdxSegCDone, s, path) {
        val docs = Tables(s, dir, "documents").select("doc_id", "text")
        publishHistorySegment(s, path, "day0",
          docs.filter(col("doc_id") % 3 === 0))
        publishHistorySegment(s, path, "day1",
          docs.filter(col("doc_id") % 3 === 1))
        compactSegments(s, path, "hist",
          victims = Seq("day0", "day1"), retire = false)
        publishHistorySegment(s, path, "day2",
          docs.filter(col("doc_id") % 3 === 2)): Unit
      }
      incrementalAgainstSegmentedIndex(s, path,
        plantedCorpus(Tables(s, dir, "documents"))
          .filter(col("doc_id") >= PlantedOffset))
    },
    Some(incrementalOracleSql))

  private def histIdxPath(dir: String,
      fingerprint: Option[String]): String =
    s"${Work.dir}/inc_hist_v2_${Work.publishTag(dir, fingerprint)}"

  private val histIdxDone = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]

  /** Publish the witness history index for an sf dir once (history =
    * the `documents` table itself — exactly the `dedup_incremental`
    * witness's history slice), keyed on [[graft.Work.publishTag]] so
    * two corpus dirs sharing a basename never reuse one index. */
  def ensureHistoryIndex(s: SparkSession, dir: String,
      fingerprint: Option[String] = None): String = {
    // keyed on the artifact PATH (dir + optional fingerprint, r15
    // verdict #6): a re-crawled history published under a new
    // fingerprint gets a fresh index; default None keeps the
    // immutable-testdata tag byte-identical
    val path = histIdxPath(dir, fingerprint)
    ensureIdx(histIdxDone, s, path) {
      publishHistoryIndex(s, path,
        Tables(s, dir, "documents").select("doc_id", "text"))
    }
  }

  /** Ensure-and-REGISTER (r16 verdict #7, the O6 tie-in): publish the
    * history index for `dir` (optionally fingerprinted — a re-crawl
    * republishes under a new path) and record it in the workflow
    * [[graft.registry.Registry]] under `name`, versioned by the
    * fingerprint. Pipelines then resolve indexes exactly like model
    * versions — `resolveArtifact(name)` is the current publish,
    * `resolveArtifact(name, Some(oldFp))` the historical one — instead
    * of depending on the path convention. */
  def registerHistoryIndex(reg: graft.registry.Registry, s: SparkSession,
      name: String, dir: String, fingerprint: Option[String] = None)
      : graft.registry.ArtifactMeta =
    reg.registerVersionedArtifact(name,
      ensureHistoryIndex(s, dir, fingerprint), fingerprint)

  // --- registry-backed segmented-index discovery (r18 verdict #7) ----

  /** Total sh-table row count across published segments, from parquet
    * FOOTERS only — driver-side metadata reads sized to the victim
    * FILE count (one footer per file, the same order of work as the
    * listing that found them), no Spark job. The majorConcat=auto
    * dial's input. */
  private def shFooterRows(segPaths: Seq[String]): Long =
    segPaths.iterator.map { p =>
      val (fsys, shDir) = Work.fs(s"$p/sh")
      fsys.listStatus(shDir).iterator
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map { st =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              st.getPath, Work.hconf))
          try r.getRecordCount finally r.close()
        }.sum
    }.sum

  /** Serialize a [[CompactionPolicy]] as a registry token — explicit
    * key=value pairs, so a future field is an unknown-key ERROR on an
    * old reader instead of a silently-dropped setting. */
  private def policyToken(p: CompactionPolicy): String =
    s"minorTail=${p.minorTail};majorFlavors=${p.majorFlavors};" +
      s"graceMs=${p.graceMs};majorConcat=${p.majorConcat};" +
      s"concatRowsMin=${p.concatRowsMin}"

  private def parsePolicy(token: String, where: String): CompactionPolicy = {
    val kv = token.split(";").map(_.trim).filter(_.nonEmpty).map { t =>
      t.split("=", 2) match {
        case Array(k, v) => (k, v)
        case _ => throw new IllegalArgumentException(
          s"malformed compaction-policy token '$token' at $where")
      }
    }.toMap
    val known = Set("minorTail", "majorFlavors", "graceMs",
      "majorConcat", "concatRowsMin")
    val unknown = kv.keySet -- known
    require(unknown.isEmpty,
      s"compaction-policy token at $where carries unknown keys " +
        s"${unknown.mkString(", ")} — written by a newer engine? " +
        "Upgrade before consuming this registration")
    def long(k: String, dflt: Long) = kv.get(k).map(_.toLong).getOrElse(dflt)
    CompactionPolicy(
      minorTail = long("minorTail", 7).toInt,
      majorFlavors = long("majorFlavors", 4).toInt,
      graceMs = long("graceMs", 0L),
      // r19 tokens spelled the then-Boolean as true/false — mapped
      // onto the tri-state; absent = the pre-r19 default (off)
      majorConcat = kv.get("majorConcat") match {
        case None => "off"
        case Some("true") => "on"
        case Some("false") => "off"
        case Some(m) => m
      },
      concatRowsMin = long("concatRowsMin", 100000L))
  }

  /** Register a SEGMENTED index root and its [[CompactionPolicy]] in
    * the workflow [[graft.registry.Registry]] under `name` (r18
    * verdict #7): pipelines and maintenance jobs then resolve the
    * index BY NAME — `resolveSegmentedIndex` → (root, policy) — and
    * fold it with [[maybeCompactRegistered]], instead of threading raw
    * `indexDir` strings and hand-built policies through every caller.
    * The policy registers as the versioned artifact `<name>.policy`:
    * the bare entry always serves the CURRENT policy, and each
    * `policyVersion` pins its setting forever — an audit trail of
    * retention/cadence changes, resolvable the same way model versions
    * are. Re-registering the same version with a DIFFERENT policy is
    * the registry's immutable-version error. */
  def registerSegmentedIndex(reg: graft.registry.Registry, name: String,
      indexDir: String, policy: CompactionPolicy,
      policyVersion: Option[String] = None): graft.registry.ArtifactMeta = {
    reg.registerVersionedArtifact(s"$name.policy", policyToken(policy),
      policyVersion): Unit
    reg.registerVersionedArtifact(name, indexDir)
  }

  /** Resolve a registered segmented index: (index root, policy).
    * `policyVersion` pins a historical policy; default = current. */
  def resolveSegmentedIndex(reg: graft.registry.Registry, name: String,
      policyVersion: Option[String] = None)
      : (String, CompactionPolicy) = {
    val root = reg.resolveArtifact(name).getOrElse(
      throw new NoSuchElementException(
        s"no segmented index registered under '$name' — " +
          "registerSegmentedIndex first")).uri
    val pol = reg.resolveArtifact(s"$name.policy", policyVersion)
      .getOrElse(throw new NoSuchElementException(
        s"segmented index '$name' has no " +
          policyVersion.fold("current")(v => s"'$v'") +
          " compaction policy registered"))
    (root, parsePolicy(pol.uri, s"registry artifact ${pol.name}"))
  }

  /** [[maybeCompact]] under the REGISTERED policy — the maintenance
    * job's whole body: resolve by name, fold if a threshold is
    * crossed. Retirement safety is [[compactSegments]]'s (grace
    * window, manifest-before-delete, lease). */
  def maybeCompactRegistered(reg: graft.registry.Registry,
      s: SparkSession, name: String): Option[String] = {
    val (root, policy) = resolveSegmentedIndex(reg, name)
    maybeCompact(s, root, policy)
  }

  /** Near-dup pairs of `increment` against a PUBLISHED history index —
    * the production entry point: history is never re-shingled or
    * re-hashed; the increment shingles/bands only ITSELF and joins the
    * stored bucket table, so per-increment compute is ∝ increment
    * (StressMain's `incremental_pub_hist` row pins increment-side
    * jobs FLAT as history scales 8×). Bit-identical output to
    * [[incrementalPairs]] on the same slices (ExtSpec pins set
    * equality); the verify join against the stored shingle sets still
    * shuffles ∝ history scan at 100 TB under THIS plain layout — use
    * [[publishHistoryIndexBucketed]]/[[incrementalAgainstIndexBucketed]]
    * (r16) to co-locate both stored-side joins; the compute saving
    * (shingling + 64 hashes per history doc, per day) is the headline
    * either way.
    *
    * PRECONDITION (r15 ADVICE): increment doc_ids must be DISJOINT
    * from the stored history index's doc_ids (assign a re-crawl a
    * fresh id; the in-query twin [[incrementalPairsFused]] gets this
    * for free from its predicate split). Since r16's split verify the
    * failure mode is semantic rather than structural: an overlapping
    * id no longer duplicates verify rows (each candidate side resolves
    * against exactly its own shingle frame), but a pair (a, b) with
    * a == b would compare a document against its own re-crawl under
    * one identity and downstream keep/cluster logic would conflate the
    * two versions. External callers supply the increment independently
    * of the published index, so a cheap debug check is available: set
    * `spark.graft.dedup.checkDisjointIds=true` to pay one ids-only
    * semi-join per call that fails fast on overlap.
    */
  def incrementalAgainstIndex(s: SparkSession, indexPath: String,
      increment: DataFrame): DataFrame =
    incrementalAgainstFrames(s,
      s.read.parquet(s"$indexPath/sh"),
      s.read.parquet(s"$indexPath/bb"),
      increment, indexPath)

  /** Shared increment-vs-stored-index core: both the plain-parquet and
    * the bucketed index entry points bind it, differing only in how
    * the two stored frames are scanned. */
  private def incrementalAgainstFrames(s: SparkSession, shH: DataFrame,
      bH: DataFrame, increment: DataFrame, indexDesc: String): DataFrame =
    incrementalAgainstFlavors(s, Seq((shH, bH)), increment, indexDesc)

  /** Increment-vs-stored-index core over one OR SEVERAL stored-side
    * flavors — the several-flavor case is the composed steady-state
    * layout (r16 verdict #3): bucketed compacted history plus a plain
    * tail of recent segments. Every history doc lives in exactly ONE
    * flavor (segments partition the crawl), so per-flavor candidate +
    * verify joins unioned are row-identical to the single-frame
    * spelling — and each flavor keeps ITS OWN join plan: the bucketed
    * side joins exchange-free on its cluster keys while the plain tail
    * shuffles only tail-sized data. A unioned stored side would
    * instead shuffle EVERYTHING (a union scan carries no bucketing),
    * re-paying the history-sized exchange the bucketed layout exists
    * to delete. */
  private def incrementalAgainstFlavors(s: SparkSession,
      flavors: Seq[(DataFrame, DataFrame)], increment: DataFrame,
      indexDesc: String): DataFrame = {
    val shI = shingleSets(increment.select(col("doc_id"), col("text")))
      .persist()
    shI.count(): Unit
    if (s.conf.getOption("spark.graft.dedup.checkDisjointIds")
        .contains("true")) {
      val shH = flavors.map(_._1.select("doc_id")).reduce(_ unionByName _)
      val overlap = shH
        .join(shI.select("doc_id"), "doc_id").limit(5)
        .collect().map(_.getLong(0))
      if (overlap.nonEmpty) {
        shI.unpersist(): Unit
        throw new IllegalArgumentException(
          s"incremental dedup: increment doc_ids overlap the " +
            s"history index at $indexDesc (e.g. ${overlap.mkString(", ")}) " +
            "— re-crawled docs must carry fresh ids")
      }
      // segmented face of the same contract: a batch folded into TWO
      // segments (a retry under a differently-spelled id defeats the
      // same-id short-circuit) duplicates its rows in the history
      // union and the verify join fans out over them (r16 review)
      val dup = shH.groupBy("doc_id").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).limit(5).collect().map(_.getLong(0))
      if (dup.nonEmpty) {
        shI.unpersist(): Unit
        throw new IllegalArgumentException(
          s"incremental dedup: the history index at $indexDesc carries " +
            s"duplicate doc_ids (e.g. ${dup.mkString(", ")}) — was one " +
            "batch folded into two segments under different ids?")
      }
    }
    // with SEVERAL flavors the increment's banded buckets are persisted
    // too: each flavor probes this (small) frame, and re-running the
    // 64-hash MinHash pass per flavor would charge the increment k
    // times for one day's crawl. Single-flavor callers (the whole
    // monolithic family — the bench hot path) keep the lazy one-pass
    // pipeline: a persist+count there is a pure extra job (r17 review)
    val multi = flavors.size > 1
    val bI =
      if (multi) {
        val b = bandBuckets(minhashSignatures(shI)).persist()
        b.count(): Unit
        b
      } else bandBuckets(minhashSignatures(shI))
    // split verify (r16-measured): `a` ids are history
    // ids and `b` ids increment ids, so each side joins only its own
    // shingle frame — the stored history table is scanned once instead
    // of twice (the union spelling resolved BOTH ids against
    // history+increment), and the increment side stays
    // AQE-broadcastable at daily-crawl scale
    val out = Work.materialize("incremental_pub",
      flavors.map { case (shH, bH) =>
        verifyJaccardSplit(crossSideCandidates(bH, bI), shH, shI)
      }.reduce(_ unionByName _))
    if (multi) bI.unpersist(): Unit
    shI.unpersist()
    out
  }

  // --- bucketed history index (the 100 TB co-location layout) --------

  /** Bucket count of the published bucketed index. Local default sized
    * to the test session's cores; at 100 TB this is thousands — the
    * layout knob, not a semantic one (readers pass the same value). */
  val HistIdxBuckets = 32

  /** Bucketed twin of [[publishHistoryIndex]] — the co-location move
    * the plain index's scaladoc narrates: the stored shingle table is
    * written CLUSTERED BY doc_id and the band-bucket table CLUSTERED BY
    * (band, bucket), so every later increment's candidate join and
    * verify join read the HISTORY side pre-partitioned on their join
    * keys — no history-sized exchange per increment, ever; only the
    * (small) increment/candidate sides shuffle into the bucket layout
    * (PlanSpec pins exactly 2 exchanges fewer than the plain-parquet
    * plan). Bucketed layout is an ingest-time storage decision, paid
    * once where the plain publish is paid once.
    *
    * Mechanics: Spark's bucketed layout is only writable through the
    * catalog (`bucketBy.saveAsTable`), so the stage writes EXTERNAL
    * tables into the publish staging dir under throwaway names, drops
    * the catalog entries (files stay — DROP on an external table never
    * deletes data), and lets [[graft.Work.publish]] rename the staged
    * dir into place under the same `_SUCCESS` discipline as the plain
    * index. Readers re-declare the table over the published files
    * ([[bucketedHistoryIndex]]); a production deployment would hold
    * that DDL in a shared metastore instead of per-session.
    */
  def publishHistoryIndexBucketed(s: SparkSession, path: String,
      history: DataFrame, buckets: Int = HistIdxBuckets): Unit = {
    Work.publish(path) { tmp =>
      val sh = shingleSets(history.select(col("doc_id"), col("text")))
        .persist()
      sh.count(): Unit
      stageBucketedIndex(s, tmp, buckets, sh,
        bandBuckets(minhashSignatures(sh)))
      sh.unpersist(): Unit
    }: Unit
  }

  /** Re-LAYOUT an already-published plain index as a bucketed one: the
    * stored `sh/` and `bb/` parquet are read back and rewritten
    * CLUSTERED BY their join keys — no re-shingling, no re-hashing
    * (the ingest-time headline cost is paid once, in whichever publish
    * ran first). This is the production "migrate the layout" move, and
    * what the witness uses so a gate run holding BOTH index flavors
    * computes the shingle/MinHash passes exactly once. */
  def publishHistoryIndexBucketedFrom(s: SparkSession, path: String,
      plainIndexPath: String, buckets: Int = HistIdxBuckets): Unit = {
    Work.publish(path) { tmp =>
      stageBucketedIndex(s, tmp, buckets,
        s.read.parquet(s"$plainIndexPath/sh"),
        s.read.parquet(s"$plainIndexPath/bb"))
    }: Unit
  }

  private val stageSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Bucket id parsed from a bucketed-table file name — Spark's
    * `_(\d+)` suffix convention (the same pattern its reader uses to
    * route files to buckets), so adopted and concat-merged names keep
    * their bucket routing. */
  private val BucketIdName = """.*_(\d+)(?:\..*)?$""".r

  private[graft] def bucketIdOf(name: String): Option[Int] =
    name match {
      case BucketIdName(d) => d.toIntOption
      case _ => None
    }

  /** True when `path`'s layout record carries the `unsorted` flag —
    * set by the concat collapse, whose raw row-group merge preserves
    * within-row-group order but not whole-file order. */
  private def segmentSorted(path: String): Boolean =
    !readRecordOpt(path, "buckets").exists(_.trim.endsWith(" unsorted"))

  /** Merge `victims`' bucketed `sub` tables into ONE file per bucket by
    * RAW ROW-GROUP COPY (r18 verdict #4): parquet-mr's
    * `ParquetFileWriter.appendFile` streams each source file's row
    * groups into the destination verbatim and writes one merged footer
    * — no decode, no shuffle, no re-encode; the collapse's cost drops
    * from a CPU-bound rewrite to an IO-bound byte copy (and on stores
    * with server-side copy, toward metadata speed). File names keep the
    * `_<bucket>` suffix so the merged files ARE the bucket layout.
    *
    * The merged file is NOT whole-file sorted (row groups from k
    * sorted files interleave), so the caller must publish the segment
    * with the `unsorted` layout flag — [[bucketedHistoryIndex]] then
    * declares the table without SORTED BY and Spark plans an explicit
    * sort where a plan needs one, instead of trusting an order the
    * files no longer have (the silent-wrong-join hazard at exactly
    * one file per bucket).
    *
    * Schema safety: every source footer's schema must equal the
    * first's — parquet row-group copy is only defined across identical
    * schemas. A mismatch throws [[ConcatUnsupported]]; the caller
    * demotes the victims to the decoding rewrite. */
  private def concatBucketedSub(victims: Seq[String], sub: String,
      tmp: String, token: String): Unit = {
    if (victims.isEmpty) return
    val hc = Work.hconf
    val byBucket = scala.collection.mutable.LinkedHashMap
      .empty[Int, Vector[org.apache.hadoop.fs.Path]]
    victims.foreach { v =>
      val (fsys, d) = Work.fs(s"$v/$sub")
      fsys.listStatus(d).toSeq.filter(_.isFile).map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName)
        .foreach { p =>
          // an unparseable bucket name must DEMOTE to the rewrite, not
          // silently drop the file's rows from the compacted segment
          // (r19 review — the rewrite reads every file regardless of
          // its name, so it is always the safe fallback)
          val b = bucketIdOf(p.getName).getOrElse(
            throw new ConcatUnsupported(
              s"victim data file $p carries no parseable _<bucket> " +
                "suffix — cannot route it for the raw concat"))
          byBucket(b) = byBucket.getOrElse(b, Vector.empty) :+ p
        }
    }
    val (dfs, dstDir) = Work.fs(s"$tmp/$sub")
    if (!dfs.exists(dstDir) && !dfs.mkdirs(dstDir))
      throw new IllegalStateException(s"could not create $tmp/$sub")
    def mergeBucket(b: Int,
        files: Vector[org.apache.hadoop.fs.Path]): Unit = {
      def footer(p: org.apache.hadoop.fs.Path) = {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, hc))
        try r.getFooter finally r.close()
      }
      val head = footer(files.head).getFileMetaData
      files.tail.foreach { p =>
        if (footer(p).getFileMetaData.getSchema != head.getSchema)
          throw new ConcatUnsupported(
            s"parquet schemas differ across victims at bucket $b " +
              s"($sub): ${files.head} vs $p")
      }
      val dst = new org.apache.hadoop.fs.Path(dstDir,
        f"concat-$token%s_$b%05d.parquet")
      val w = new org.apache.parquet.hadoop.ParquetFileWriter(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(dst, hc),
        head.getSchema,
        org.apache.parquet.hadoop.ParquetFileWriter.Mode.CREATE,
        128L * 1024 * 1024, 8 * 1024 * 1024)
      w.start()
      files.foreach(p => w.appendFile(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, hc)))
      // first footer's key-value metadata carries the Spark schema —
      // identical across victims of one engine version, and only
      // advisory here (readers declare explicit schemas)
      w.end(head.getKeyValueMetaData)
    }
    // buckets merge INDEPENDENTLY — a driver-side pool gives the
    // byte copy the same parallelism the rewrite's write stage gets
    // (sequential, the per-file fixed cost made concat LOSE to the
    // 32-core rewrite at small scale); ConcatUnsupported (and any
    // other failure) propagates after the pool drains
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(byBucket.size,
        Runtime.getRuntime.availableProcessors())))
    try {
      val futures = byBucket.toSeq.map { case (b, files) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = mergeBucket(b, files)
        })
      }
      futures.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        }
      }
    } finally { pool.shutdownNow(): Unit }
  }

  /** Concat collapse unavailable for these victims (schema drift) —
    * the caller falls back to the decoding rewrite. */
  private[graft] final class ConcatUnsupported(msg: String)
    extends RuntimeException(msg)

  /** Stage the two bucketed tables + the bucket-count record into a
    * publish staging dir. Staging table names carry a per-call unique
    * token: Work.publish guarantees same-JVM concurrent publishes
    * unique staging DIRS, and the throwaway catalog entries must not
    * undercut that by colliding on a shared name (r16 review). */
  private def stageBucketedIndex(s: SparkSession, tmp: String,
      buckets: Int, sh: DataFrame, bb: DataFrame): Unit =
    stageBucketedIndexParts(s, tmp, buckets,
      Seq((sh, false)), Seq((bb, false)))

  /** Stage the two bucketed tables from PARTS — each part is
    * (frame, bucketAligned). UNALIGNED parts (plain scans, arbitrary
    * partitioning) are repartitioned on the bucket keys BEFORE the
    * bucketed write: a bucketBy write otherwise emits one file per
    * (task, bucket) — tasks × buckets files, the small-files
    * explosion at crawl scale; Spark's repartition hash and its
    * bucket-id hash are the same Murmur3 pmod, so each shuffled
    * partition holds exactly one bucket and the part lands ONE file
    * per bucket (ExtSpec counts them). ALIGNED parts (scans of an
    * already-bucketed segment with the SAME spec) skip the
    * repartition entirely: a bucketed scan already holds exactly one
    * bucket per task, so the write emits one file per bucket with NO
    * shuffle — which is what makes a major compaction's shuffle cost
    * ∝ the plain tail instead of ∝ the whole history (r17; ExtSpec
    * pins the shuffle-bytes cut and bit-identical output). Parts
    * append to one staging table (first part overwrites), so the
    * published table carries ≤ parts files per bucket.
    *
    * `linkFrom` (r18, the APPEND spelling of the weekly fold): paths
    * of already-bucketed segments with the SAME spec whose data files
    * are adopted verbatim ([[graft.Work.adoptDataFiles]] — hard links
    * locally, raw/server-side copy elsewhere) instead of being read
    * and rewritten through Spark. The standing segment's history costs
    * the fold NOTHING but per-file metadata ops: no scan, no decode,
    * no shuffle, no re-encode — the r17 aligned fold removed the
    * history SHUFFLE, this removes the history IO, and the fold's wall
    * is genuinely ∝ tail bytes. File names keep Spark's bucket-id
    * suffix, so the adopted files ARE the bucket layout; per-bucket
    * file multiplicity accumulates exactly as the aligned rewrite's
    * did (+1 file/bucket per folded tail part), and the same
    * [[AlignedFoldMaxFilesPerBucket]] dial collapses it back through
    * the full rewrite. */
  private def stageBucketedIndexParts(s: SparkSession, tmp: String,
      buckets: Int, sh: Seq[(DataFrame, Boolean)],
      bb: Seq[(DataFrame, Boolean)],
      linkFrom: Seq[String] = Seq.empty,
      concatFrom: Seq[String] = Seq.empty): Unit = {
    val token = s"${Work.jvmTag}_${stageSeq.incrementAndGet()}"
    // dash-joined token for file names: the bucket id must stay the
    // only `_<digits>` group Spark's bucket routing can parse
    val fileToken = token.replace("_", "-")
    def stage(parts: Seq[(DataFrame, Boolean)], sub: String,
        keys: Seq[String]): Unit = {
      require(parts.nonEmpty || linkFrom.nonEmpty || concatFrom.nonEmpty,
        s"no parts to stage for $sub")
      val t = s"graft_hidx_stage_${token}_$sub"
      s.sql(s"DROP TABLE IF EXISTS $t")
      parts.zipWithIndex.foreach { case ((df, aligned), i) =>
        val src =
          if (aligned) df
          else df.repartition(buckets, keys.map(col): _*)
        val w = src.write
          .mode(if (i == 0) "overwrite" else "append")
          .format("parquet")
          .bucketBy(buckets, keys.head, keys.tail: _*)
          .sortBy(keys.head, keys.tail: _*)
        (if (i == 0) w.option("path", s"$tmp/$sub") else w)
          .saveAsTable(t)
      }
      s.sql(s"DROP TABLE IF EXISTS $t")
      // adopt/concat AFTER the staged write: mode=overwrite on the
      // first part would delete pre-placed files. UUID file names
      // cannot collide.
      linkFrom.foreach(p => Work.adoptDataFiles(s"$p/$sub", s"$tmp/$sub"))
      concatBucketedSub(concatFrom, sub, tmp, fileToken)
    }
    stage(sh, "sh", Seq("doc_id"))
    stage(bb, "bb", Seq("band", "bucket"))
    // record the layout IN the artifact: the bucket count is a property
    // of the published files, and a reader declaring a different count
    // would silently scan half the buckets or mis-co-locate the join
    // (r16 review) — readers derive it from here instead of trusting a
    // parameter to match. The unique publish id keys each reader's
    // per-session table NAME to this exact publish: a clean+republish
    // at the same path (possibly with a different layout) gets fresh
    // declarations instead of a stale catalog entry whose bucket spec
    // and cached file listing describe the deleted artifact.
    // `unsorted` (r18 verdict #4): set when the artifact carries
    // concat-merged files — or adopts files from a victim that did —
    // so readers never declare SORTED BY over data that lost
    // whole-file order (see [[concatBucketedSub]]).
    val sorted = concatFrom.isEmpty && linkFrom.forall(segmentSorted)
    writeRecord(tmp, "buckets",
      s"$buckets ${java.util.UUID.randomUUID().toString.replace("-", "").take(12)}" +
        (if (sorted) "" else " unsorted"))
    // banding plan travels with the segment (r19 verdict #7) — the
    // bb table's (band, bucket) values are a function of the plan
    writeRecord(tmp, "lshplan", DefaultBandPlan.token)
  }

  /** Frames over a published bucketed index: per-session DDL declares
    * the two external bucketed tables over the published files (names
    * keyed on the canonical path, idempotent per session), and the
    * returned scans carry the bucket layout — joining them on their
    * cluster keys needs no exchange on the stored side. The bucket
    * count is read from the artifact's own `buckets` record, never
    * trusted from the caller (a mismatched declaration would silently
    * scan a subset of the bucket files). */
  def bucketedHistoryIndex(s: SparkSession,
      path: String): (DataFrame, DataFrame) = {
    val (fsys, idxPath) = Work.fs(path)
    def sub(n: String) = new org.apache.hadoop.fs.Path(idxPath, n)
    require(Work.isComplete(path),
      s"bucketed history index at $path is absent or incomplete")
    require(fsys.exists(sub("buckets")),
      s"bucketed history index at $path has no layout record — " +
        "a plain-parquet index or a pre-record (v1) artifact cannot be " +
        "read as bucketed; republish with publishHistoryIndexBucketed")
    val recIn = fsys.open(sub("buckets"))
    val recStr =
      try scala.io.Source.fromInputStream(recIn, "UTF-8").mkString
      finally recIn.close()
    // shape-validate BEFORE parsing: a truncated or corrupt record must
    // fail with an artifact-format error naming the path, not an opaque
    // NumberFormat/ArrayIndexOutOfBounds (r16 ADVICE). The optional
    // third token `unsorted` marks a concat-collapsed layout (r18
    // verdict #4).
    val rec = recStr.trim.split(" ")
    require((rec.length == 2 || (rec.length == 3 && rec(2) == "unsorted"))
        && rec(0).forall(_.isDigit) && rec(0).nonEmpty,
      s"bucketed history index at $path has a corrupt layout record " +
        s"('${recStr.trim.take(64)}' — expected " +
        "'<buckets> <publishId>[ unsorted]'); " +
        "republish with publishHistoryIndexBucketed")
    val buckets = rec(0).toInt
    val pubId = rec(1)
    val sorted = rec.length == 2
    // table names keyed on (path tag, publish id): a clean+republish at
    // the same path declares FRESH tables, so a session can never serve
    // a previous artifact's bucket spec or cached file listing (r16
    // review — the plain path is immune because read.parquet re-lists
    // every call); refreshTable still guards the name's own relation
    // cache across a re-entrant declare. The tag derives from the
    // NORMALIZED spelling ([[segSpelling]]) so a file:-qualified
    // caller and the plain-path reader/retirement derive ONE tag
    // (r17 review #1)
    val tag = Work.publishTag(segSpelling(idxPath))
      .replaceAll("[^A-Za-z0-9_]", "_")
    def declare(sub: String, schema: String, keys: String): String = {
      val t = s"graft_hidx_${sub}_${tag}_$pubId"
      // retire catalog entries of SUPERSEDED publishes of this same
      // path tag (r16 verdict #6 / ADVICE): a clean+republish cycle
      // otherwise leaks one external-table pair per publish id into a
      // long-lived shared metastore, the stale ones pointing at
      // deleted locations. DROP on an external table never touches
      // files, and any frame still lazily bound to the old name was
      // already invalid — its artifact was cleaned. Best-effort: a
      // racing DROP of the same stale entry is a no-op (IF EXISTS).
      val prefix = s"graft_hidx_${sub}_${tag}_"
      // SHOW TABLES LIKE pushes the prefix filter to the catalog — a
      // shared metastore is never list-scanned wholesale
      try s.sql(s"SHOW TABLES LIKE '$prefix*'").collect()
        .map(_.getString(1)).filter(_ != t)
        .foreach(old => s.sql(s"DROP TABLE IF EXISTS $old"))
      catch { case scala.util.control.NonFatal(_) => () }
      // IF NOT EXISTS, not a tableExists probe: two concurrent callers
      // of the same index must not race check-then-create. SORTED BY
      // only when the artifact's record says the files still carry
      // whole-file order — a concat-collapsed segment must not tempt
      // Spark into skipping a sort it needs (the one-file-per-bucket
      // case trusts the declaration; r18 verdict #4)
      val sortedBy = if (sorted) s"SORTED BY ($keys)" else ""
      s.sql(s"""CREATE TABLE IF NOT EXISTS $t ($schema) USING PARQUET
        CLUSTERED BY ($keys) $sortedBy INTO $buckets BUCKETS
        LOCATION '$path/$sub'""")
      s.catalog.refreshTable(t)
      t
    }
    (s.table(declare("sh", "doc_id BIGINT, shs ARRAY<BIGINT>, n INT",
        "doc_id")),
      s.table(declare("bb", "doc_id BIGINT, band INT, bucket BIGINT",
        "band, bucket")))
  }

  /** [[incrementalAgainstIndex]] over a BUCKETED index: identical
    * output (same shared core, ExtSpec pins row equality with the
    * plain path), but the stored tables join exchange-free. */
  def incrementalAgainstIndexBucketed(s: SparkSession, indexPath: String,
      increment: DataFrame): DataFrame = {
    val (shH, bH) = bucketedHistoryIndex(s, indexPath)
    incrementalAgainstFrames(s, shH, bH, increment, indexPath)
  }

  private val histIdxBDone = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]

  /** Shared once-per-(session, path) publish memo of the two ensure
    * entry points — the eviction/keying semantics live in ONE place. */
  private def ensureIdx(
      cache: java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String],
      s: SparkSession, path: String)(publishFn: => Unit): String = {
    graft.SessionCaches.evictStopped(cache)(_._1)
    cache.computeIfAbsent((s, path), { _ => publishFn; path })
  }

  /** Witness twin of [[ensureHistoryIndex]] for the bucketed layout:
    * ensures the PLAIN index first, then re-layouts its stored tables
    * ([[publishHistoryIndexBucketedFrom]]) — a gate run exercising
    * both flavors shingles and MinHashes the corpus exactly once. */
  def ensureHistoryIndexBucketed(s: SparkSession, dir: String,
      fingerprint: Option[String] = None): String = {
    // v2: v1 predates the in-artifact layout record; v3 (r20): shingle
    // ids are tokenHash longs, not strings — each bump guarantees a
    // stale prior-format dir in a shared work dir is never read (the
    // plain inc_hist and segmented inc_hidxseg/inc_hidxsegc paths are
    // bumped for the same r20 reason)
    val path = s"${Work.dir}/inc_hidxb_v3_${Work.publishTag(dir, fingerprint)}"
    ensureIdx(histIdxBDone, s, path) {
      publishHistoryIndexBucketedFrom(s, path,
        ensureHistoryIndex(s, dir, fingerprint))
    }
  }

  val incrementalPubBucketed = QueryDef(
    "dedup_incremental_pub_bucketed",
    (s, dir) => incrementalAgainstIndexBucketed(s,
      ensureHistoryIndexBucketed(s, dir),
      plantedCorpus(Tables(s, dir, "documents"))
        .filter(col("doc_id") >= PlantedOffset)),
    Some(incrementalOracleSql))

  val incrementalPub = QueryDef(
    "dedup_incremental_pub",
    (s, dir) => incrementalAgainstIndex(s, ensureHistoryIndex(s, dir),
      plantedCorpus(Tables(s, dir, "documents"))
        .filter(col("doc_id") >= PlantedOffset)),
    Some(incrementalOracleSql))

  /** Decontamination — the eval-leakage check every LLM pipeline runs:
    * flag evaluation documents sharing at least one word n-gram with
    * the training corpus. Inverted-index equi-join on the shingle (the
    * same shape as near-dup candidate generation, but cross-corpus and
    * any-overlap); output is per-test-doc with the collision count.
    * Scale: shuffle ∝ Σ df(shingle) over the two sides, never
    * |train|×|test| (the train side pre-aggregates to one row per
    * distinct shingle, so hot shingles cannot explode the join the way
    * they do in [[jaccardPairsOn]]).
    *
    * @param shingleDfCap here a SIGNAL filter, not a shuffle bound
    *   (the scale story above holds either way): shingles occurring in
    *   more than this many training docs are excluded from collision
    *   counting — boilerplate n-grams ("all rights reserved …") hit
    *   every eval doc and drown the genuine leakage signal, the same
    *   reason the GPT-3 appendix counts only rare-enough n-grams.
    *   0 = count every shared shingle (the oracle-checked default). */
  def decontaminate(train: DataFrame, test: DataFrame, n: Int = 4,
      shingleDfCap: Int = 0): DataFrame = {
    val trainDf = shingleDf(train, n)
    decontaminateAgainst(test,
      if (shingleDfCap > 0) trainDf.filter(col("df") <= shingleDfCap)
      else trainDf, n)
  }


  /** Per-shingle document frequencies of a corpus — the pre-aggregated
    * training side of [[decontaminate]]: map-side combine shrinks the
    * (huge) corpus to its distinct-shingle set BEFORE any join, and a
    * long-lived consumer (the streaming decontamination) persists THIS
    * frame so the shingling pass is not re-run per micro-batch. */
  def shingleDf(corpus: DataFrame, n: Int = 4): DataFrame =
    shingleSets(corpus, n)
      .select(col("doc_id"), explode(col("shs")).as("sh"))
      .groupBy("sh").agg(count(lit(1)).as("df"))

  /** Collision counts of `test` docs against a pre-aggregated
    * (sh, df) training frame: the join output is |test inv| rows
    * instead of one row per (test shingle, train doc) match, and the
    * final sum of dfs is value-identical to counting the matches. */
  def decontaminateAgainst(test: DataFrame, trainDf: DataFrame,
      n: Int = 4): DataFrame =
    shingleSets(test, n)
      .select(col("doc_id").as("test_doc"), explode(col("shs")).as("sh"))
      .join(trainDf, "sh")
      .groupBy("test_doc")
      .agg(sum(col("df")).as("n_collisions"))

  /** Driver-verified witness: held-out docs (doc_id % 10 == 0) checked
    * against the rest as training corpus. */
  val decontam = QueryDef(
    "decontaminate",
    // NOTE the two shingleSets passes are NOT duplicated work: the
    // train/test predicates are disjoint, so the UDF runs once per doc
    // total. A shared-pass persist()+materialize form was measured at
    // MORE jobs and equal-or-worse wall time (round 6).
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      decontaminate(
        train = docs.filter(col("doc_id") % 10 =!= 0),
        test = docs.filter(col("doc_id") % 10 === 0))
    },
    Some(s"""
      WITH sh AS (SELECT doc_id,
                    list_distinct(list_transform(
                      generate_series(1, len(ws) - 3),
                      i -> array_to_string(ws[i:i+3], ' '))) AS shs
             FROM (SELECT doc_id, ${TextAnalysis.wsSplitSql("text")} AS ws
                   FROM documents)
             WHERE len(ws) >= 4),
      inv AS (SELECT doc_id, unnest(shs) AS sh FROM sh)
      SELECT t.doc_id AS test_doc, count(*) AS n_collisions
      FROM (SELECT * FROM inv WHERE doc_id % 10 = 0) t
      JOIN (SELECT * FROM inv WHERE doc_id % 10 <> 0) tr ON t.sh = tr.sh
      GROUP BY 1"""))

  /** Contamination FRACTION — the published-benchmark decontamination
    * metric (the GPT-3 appendix form): per held-out doc, what share of
    * its distinct n-gram shingles also occurs ANYWHERE in the training
    * corpus. [[decontaminate]] counts collisions; pipelines gate on
    * this normalized score (e.g. drop eval docs >70% dirty). The
    * fraction is emitted fixed-point (ppm, integer DIV) so the oracle
    * hash cannot be perturbed by float division.
    *
    * Scale: the train side collapses to its DISTINCT shingle set with
    * map-side combine before any join (the same pre-aggregation lever
    * as [[shingleDf]]); the semi-join output is bounded by the test
    * inverted index, never |train|×|test|.
    */
  def contaminationScore(train: DataFrame, test: DataFrame,
      n: Int = 4): DataFrame = {
    val trainSh = shingleSets(train, n)
      .select(explode(col("shs")).as("sh")).distinct()
    val testSets = shingleSets(test, n)
      .select(col("doc_id").as("test_doc"), col("shs"))
    val hits = testSets
      .select(col("test_doc"), explode(col("shs")).as("sh"))
      .join(trainSh, Seq("sh"), "left_semi")
      .groupBy("test_doc").agg(count(lit(1)).as("n_hit"))
    testSets.select(col("test_doc"), size(col("shs")).cast("long").as("n_sh"))
      .join(hits, Seq("test_doc"), "left")
      .select(col("test_doc"), col("n_sh"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .select(col("test_doc"), col("n_sh"), col("n_hit"),
        expr("n_hit * 1000000 DIV n_sh").as("contam_ppm"))
  }

  val contamScore = QueryDef(
    "contamination_score",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      contaminationScore(
        train = docs.filter(col("doc_id") % 10 =!= 0),
        test = docs.filter(col("doc_id") % 10 === 0))
    },
    Some(s"""
      WITH sh AS (SELECT doc_id,
                    list_distinct(list_transform(
                      generate_series(1, len(ws) - 3),
                      i -> array_to_string(ws[i:i+3], ' '))) AS shs
             FROM (SELECT doc_id, ${TextAnalysis.wsSplitSql("text")} AS ws
                   FROM documents)
             WHERE len(ws) >= 4),
      trs AS (SELECT DISTINCT unnest(shs) AS sh FROM sh WHERE doc_id % 10 <> 0),
      tin AS (SELECT doc_id AS test_doc, unnest(shs) AS sh
              FROM sh WHERE doc_id % 10 = 0),
      hits AS (SELECT test_doc, count(*) AS n_hit
               FROM tin WHERE sh IN (SELECT sh FROM trs)
               GROUP BY test_doc),
      base AS (SELECT doc_id AS test_doc, CAST(len(shs) AS BIGINT) AS n_sh
               FROM sh WHERE doc_id % 10 = 0)
      SELECT base.test_doc, n_sh,
             coalesce(n_hit, 0) AS n_hit,
             coalesce(n_hit, 0) * 1000000 // n_sh AS contam_ppm
      FROM base LEFT JOIN hits ON base.test_doc = hits.test_doc"""))

  /** Line-level dedup signal (the C4/RefinedWeb "line dedup" step at
    * sentence granularity): per doc, how many of its sentences also
    * appear in ANOTHER doc. Pipelines drop or trim docs dominated by
    * shared boilerplate. Runs on the planted corpus so sharing is
    * non-trivial (a perturbed copy shares every sentence but the last).
    * Scale: one shuffle on the sentence (at 100 TB: on sha2(sentence) —
    * 32-byte keys), one on doc_id; both with map-side combine.
    */
  val lineDedup = QueryDef(
    "dedup_lines",
    (s, dir) => {
      val sent = plantedCorpus(Tables(s, dir, "documents"))
        .select(col("doc_id"), explode(split(col("text"), "\\. ")).as("sent"))
        .filter(length(trim(col("sent"))) > 0)
        // a sentence repeated WITHIN a doc counts once toward sharing
        .distinct()
      val df_ = sent.groupBy("sent")
        .agg(count(lit(1)).as("df")) // post-distinct: count = distinct docs
      sent.join(df_, "sent")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sents"),
          sum((col("df") > 1).cast(LongType)).as("n_shared_sents"))
    },
    Some(s"""
      WITH corpus AS ($plantedCorpusSql),
      sent AS (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, unnest(regexp_split_to_array(text, '\\. ')) AS s
          FROM corpus)
        WHERE length(trim(s)) > 0),
      dfs AS (SELECT s, count(*) AS df FROM sent GROUP BY 1)
      SELECT doc_id, count(*) AS n_sents,
             CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_sents
      FROM sent JOIN dfs USING (s)
      GROUP BY 1"""))

  // --- SimHash --------------------------------------------------------

  /** Shared SimHash core: one 64-bit signature word per token-hash
    * expression — bit j of word w = sign of Σ_tokens tf · (±1 per bit
    * j of hash w). Pure aggregation (no UDF); one shuffle on doc_id.
    * Both widths (64/128) are this one implementation, so the sign
    * convention, tokenizer, and tie handling (sum == 0 → bit 0) cannot
    * diverge between them.
    */
  private def signSignatures(corpus: DataFrame,
      tokenHashes: Seq[Column => Column], names: Seq[String]): DataFrame = {
    val tf0 = corpus
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val tf = tokenHashes.zipWithIndex.foldLeft(tf0) { case (df, (h, w)) =>
      df.withColumn(s"h_$w", h(col("tok")))
    }
    val bitSums = tokenHashes.indices.flatMap { w =>
      (0 until 64).map { j =>
        sum(when(shiftright(col(s"h_$w"), j).bitwiseAND(1) === 1, col("tf"))
          .otherwise(-col("tf"))).as(s"s_${w}_$j")
      }
    }
    val sums = tf.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sigCols = tokenHashes.indices.map { w =>
      (0 until 64).map { j =>
        when(col(s"s_${w}_$j") > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce((x, y) => x.bitwiseOR(y)).as(names(w))
    }
    sums.select(col("doc_id") +: sigCols: _*)
  }

  /** Portable token hash as a column fn — [[TextAnalysis.tokenHash]]
    * (NOT xxhash64: the engine-specific hash made the three simhash
    * keys un-oracle-able; the multiply-add fold replays in DuckDB). */
  private val tokenHashUdf =
    udf((tok: String) => TextAnalysis.tokenHash(Option(tok).getOrElse("")))

  /** 64-bit SimHash per doc from token-frequency-weighted token hashes. */
  def simhashSignatures(corpus: DataFrame): DataFrame =
    signSignatures(corpus, Seq(t => tokenHashUdf(t)), Seq("simhash"))

  /** DuckDB replay of [[signSignatures]]: per-(doc,token) tf, the
    * portable token hash per signature word, 64 sign-sums per word, and
    * the word reassembled as UBIGINT (reinterpreted signed only when the
    * signature itself is emitted). `words` = (name, token sql expr). */
  private def simhashSumsSql(corpusSql: String,
      words: Seq[(String, String)]): String = {
    val hashes = words.map { case (nm, tokExpr) =>
      s"${TextAnalysis.tokenHashSql(tokExpr)} AS h_$nm" }.mkString(",\n        ")
    val sums = words.flatMap { case (nm, _) =>
      (0 until 64).map(j =>
        s"sum(CASE WHEN (h_$nm >> $j) & 1 = 1 THEN tf ELSE -tf END) AS s_${nm}_$j")
    }.mkString(",\n        ")
    val usig = words.map { case (nm, _) =>
      (0 until 64).map(j =>
        s"CASE WHEN s_${nm}_$j > 0 THEN CAST(${java.lang.Long.toUnsignedString(1L << j)} AS UBIGINT) ELSE CAST(0 AS UBIGINT) END")
        .mkString("(", " + ", s") AS u_$nm")
    }.mkString(",\n        ")
    s"""
      WITH corpus AS ($corpusSql),
      tf AS (
        SELECT doc_id, tok, count(*)::BIGINT AS tf
        FROM (SELECT doc_id,
                     unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
              FROM corpus)
        GROUP BY 1, 2),
      th AS (
        SELECT doc_id, tf,
        $hashes
        FROM tf),
      sums AS (
        SELECT doc_id,
        $sums
        FROM th GROUP BY 1),
      usig AS (
        SELECT doc_id,
        $usig
        FROM sums)"""
  }

  /** UBIGINT → signed BIGINT reinterpretation (DuckDB CAST errors on
    * out-of-range instead of wrapping). */
  private def signedSql(u: String): String =
    s"""CAST(CASE WHEN $u >= 9223372036854775808
             THEN $u::HUGEINT - 18446744073709551616
             ELSE $u::HUGEINT END AS BIGINT)"""

  /** Brute-force hamming-pairs tail over a `usig` CTE: recall of the
    * banded join is 1.0 by pigeonhole, so the all-pairs filter is the
    * exact same result set (fine at oracle scale; the engine never runs
    * this plan). */
  private def simhashPairsSql(corpusSql: String,
      words: Seq[(String, String)], maxHamming: Int): String = {
    val ham = words.map { case (nm, _) =>
      s"bit_count(xor(x.u_$nm, y.u_$nm))" }.mkString(" + ")
    simhashSumsSql(corpusSql, words) + s"""
      SELECT x.doc_id AS a, y.doc_id AS b, CAST($ham AS INT) AS hamming
      FROM usig x JOIN usig y ON x.doc_id < y.doc_id
      WHERE $ham <= $maxHamming"""
  }

  val simhash = QueryDef(
    "dedup_simhash",
    (s, dir) => simhashSignatures(Tables(s, dir, "documents")),
    Some(simhashSumsSql("SELECT doc_id, text FROM documents",
      Seq("simhash" -> "tok")) + s"""
      SELECT doc_id, ${signedSql("u_simhash")} AS simhash FROM usig"""))

  /** SimHash near-dup pairs by pigeonhole banding: split the 64-bit
    * signature into 4 bands of 16 bits — two signatures within hamming
    * distance 3 agree EXACTLY on at least one band (4 bands, ≤3
    * differing bits), so the equi-join on (band, value) has recall 1.0
    * by construction, never all-pairs; exact hamming verify gives
    * precision 1.0. One shuffle on the band key.
    */
  def simhashPairs(sigs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4, "pigeonhole over 4 bands covers hamming <= 3")
    bandedHammingPairs(sigs, Seq("simhash"),
      (0 until 4).map(b =>
        shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL))),
      maxHamming)
  }

  /** 128-bit SimHash — the documented scale path past the 64-bit
    * variant's candidate bound: pigeonhole banding for hamming ≤ 3
    * over 128 bits uses 4 bands of 32 bits, so CHANCE collisions of
    * dissimilar docs drop from n²/2^16 to n²/2^32 per band — the
    * difference between quadratic-with-visible-constant at ~10^6 docs
    * and negligible at ~10^9. Two 64-bit words (`sh_0` low bits 0-63,
    * `sh_1` bits 64-127); word 1's per-token hash is salted so the two
    * words are independent. Same tf-weighted sign aggregation, one
    * shuffle on doc_id.
    */
  def simhashSignatures128(corpus: DataFrame): DataFrame =
    signSignatures(corpus,
      Seq(t => tokenHashUdf(t), t => tokenHashUdf(concat(lit("g2:"), t))),
      Seq("sh_0", "sh_1"))

  /** Banded near-dup pairs over 128-bit signatures: 4 bands of 32 bits
    * (pigeonhole covers hamming ≤ 3), exact 128-bit hamming verify.
    * One shuffle on the band key; chance candidates ∝ n²/2^32.
    */
  def simhashPairs128(sigs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4, "pigeonhole over 4 bands covers hamming <= 3")
    bandedHammingPairs(sigs, Seq("sh_0", "sh_1"), Seq(
      col("sh_0").bitwiseAND(lit(0xFFFFFFFFL)),
      shiftrightunsigned(col("sh_0"), 32),
      col("sh_1").bitwiseAND(lit(0xFFFFFFFFL)),
      shiftrightunsigned(col("sh_1"), 32)), maxHamming)
  }

  /** Shared banded-join core of both SimHash widths: explode the band
    * values, equi-join on (band, value), verify exact hamming (summed
    * bit_count XOR over the signature words) BEFORE the distinct —
    * the hamming check is a per-row codegen'd expression, the distinct
    * a shuffle, so shrink the shuffle input. */
  private def bandedHammingPairs(sigs: DataFrame, sigCols: Seq[String],
      bands: Seq[Column], maxHamming: Int): DataFrame = {
    val banded = sigs.select(
      (col("doc_id") +: sigCols.map(col)) :+ posexplode(array(bands: _*)): _*)
      .toDF(("doc_id" +: sigCols) ++ Seq("band", "bval"): _*)
    val hamming = sigCols.map(c =>
      bit_count(col(s"x.$c").bitwiseXOR(col(s"y.$c")))).reduce(_ + _)
    banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.bval") === col("y.bval") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  val simhashWideNearDup = QueryDef(
    "dedup_simhash128_pairs",
    (s, dir) => simhashPairs128(Work.materialize("simhash128_sigs",
      simhashSignatures128(plantedCorpus(Tables(s, dir, "documents"))))),
    Some(simhashPairsSql(plantedCorpusSql,
      Seq("sh_0" -> "tok", "sh_1" -> "'g2:' || tok"), maxHamming = 3)))

  /** Near-dup search over the planted corpus via SimHash banding.
    * Signatures are materialized once — the banded self-join would
    * otherwise recompute the tf + 64-bit-sum aggregation for both
    * sides. */
  val simhashNearDup = QueryDef(
    "dedup_simhash_pairs",
    (s, dir) => simhashPairs(Work.materialize("simhash_sigs",
      simhashSignatures(plantedCorpus(Tables(s, dir, "documents"))))),
    Some(simhashPairsSql(plantedCorpusSql,
      Seq("simhash" -> "tok"), maxHamming = 3)))

  // --- embedding cosine near-dup --------------------------------------

  /** Cosine of two array<double> columns — native fused-loop Catalyst
    * expression (graft.functions.CosineSim); accumulation order matches
    * the composed zip_with/aggregate form and DuckDB's
    * list_cosine_similarity. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosineSim(a, b)

  /** All pairs with cosine >= threshold: sign-LSH bucket candidates +
    * exact verify. Vectors flow into the bucket join only once per
    * (vector, table); candidate ids are deduped before the vectors are
    * joined back, so shuffle volume ∝ candidates, not n². 12 planes
    * (4096 buckets/table) keep buckets sparse: P(two random vectors
    * collide in any of 8 tables) ≈ 8·2^-12, while a 0.99-cosine pair
    * (angle ≤ 8.1°) still shares some bucket with P ≈ 1 - 6e-5 — and
    * planted scaled copies collide with probability exactly 1. */
  def embeddingCosinePairs(corpus: DataFrame, threshold: Double): DataFrame = {
    val dim = 64
    // CHANCE collisions of dissimilar vectors grow ∝ n²/2^planes, so
    // the plane count must grow with log2(n) to hold the candidate
    // volume linear (StressMain: ratio 6.2× at 8× data with fixed 12
    // planes, ~linear with 12+log2(N)). Deliberately a config, not an
    // inferred count: recall on scaled-copy near-dups is EXACTLY 1 at
    // any plane count (positive scaling preserves every sign), so
    // raising it never costs planted-pair recall — the oracle holds at
    // every setting.
    val planes = corpus.sparkSession.conf
      .getOption("spark.graft.lsh.nearDupPlanes").map(_.toInt).getOrElse(12)
    val buckets = Similarity.signBuckets(
      corpus.select(col("vec_id"), col("e")), "vec_id", "e", dim,
      planes = planes)
    val cands = buckets.alias("x").join(buckets.alias("y"),
        col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .distinct()
    cands
      .join(corpus.select(col("vec_id").as("a"), col("e").as("ea")), "a")
      .join(corpus.select(col("vec_id").as("b"), col("e").as("eb")), "b")
      .filter(cosine(col("ea"), col("eb")) >= threshold)
      .select("a", "b")
  }

  /** The declarative composed form (kept for the equivalence test). */
  def cosineDeclarative(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), _ + _)
    val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0), _ + _))
    val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0), _ + _))
    dot / (na * nb)
  }

  /** Near-dup by embedding cosine >= 0.99 over a corpus with planted
    * scaled copies (x1.5 — cosine-invariant, so planted pairs sit at
    * ~1.0 and natural pairs far below; no threshold boundary risk).
    *
    * Bucketed, never all-pairs: candidate pairs = vectors sharing a
    * sign-LSH bucket in any of the 8 tables (one equi-join shuffle on
    * the bucket key — the 100 TB shape), then exact cosine verify for
    * precision 1.0. Recall on planted pairs is exactly 1.0, not just
    * probabilistically so: positive scaling preserves every hyperplane
    * sign, so a vector and its x1.5 copy land in identical buckets
    * (asserted against brute force in ExtSpec). The round-1 form was a
    * BroadcastNestedLoopJoin over `a < b` — O(n²) at scale.
    */
  val embeddingCosine = QueryDef(
    "dedup_embedding_cosine",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
      val corpus = emb.unionAll(
        emb.select((col("vec_id") + PlantedOffset).as("vec_id"),
          transform(col("e"), x => x * 1.5).as("e")))
      embeddingCosinePairs(corpus, threshold = 0.99)
    },
    Some("""
      WITH corpus AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        UNION ALL
        SELECT vec_id + 10000000,
               list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.5)
        FROM embeddings)
      SELECT x.vec_id AS a, y.vec_id AS b
      FROM corpus x JOIN corpus y ON x.vec_id < y.vec_id
      WHERE list_cosine_similarity(x.e, y.e) >= 0.99"""))

  // --- semantic dedup (SemDeDup) --------------------------------------

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): coarse-cluster the embedding space, then prune
    * near-duplicates only WITHIN clusters — the global pair matrix is
    * never formed. Differs from [[embeddingCosinePairs]] in contract:
    * LSH buckets approximate the >=threshold pair set itself, while
    * SemDeDup partitions the corpus once and accepts that cross-cluster
    * pairs are by definition not duplicates (the paper's trade: recall
    * bounded by the quantizer, cost bounded by Σ|cluster|²).
    *
    * Assignment is by COSINE argmax (ties → lowest cid), not L2:
    * cosine is invariant under positive scaling, so a vector and its
    * scaled copy share a cluster with probability exactly 1 — which
    * both makes the planted-copy oracle deterministic and mirrors the
    * paper (they dedup on normalized embeddings).
    *
    * 100 TB shape: centroids broadcast (the quantizer is tiny — grow
    * count ∝ n to hold |cluster| constant, so Σ|cluster|² stays
    * linear); assignment is PURE MAP WORK — the quantizer is collapsed
    * to a single array-of-structs row, broadcast, and each vector runs
    * the native codegen'd [[argmaxCosine]] over it, so no scored
    * (vector × centroid) row ever exists to shuffle or sort. (A
    * window-rank or max_by formulation was measured first: both sort
    * the n×k scored rows — max_by's array-valued ordering buffer
    * forces SortAggregate — 2.7 s / 10.6 s vs 1.3 s for the fold form
    * at sf0.1; the native expression then replaced the fold — see
    * [[assignHier]] for the sweep.) The intra-cluster compare is one
    * equi-join shuffle on
    * cid. A hot cluster is the skew lever: re-split it recursively
    * with a finer quantizer (same function, filtered input) the way
    * the shingle df-cap bounds hot shingles in [[ngramJaccardPairs]].
    * When k itself grows with n (the lever above), flat assignment's
    * n·k FLOPs turn quadratic — [[semanticDedupHier]] is the two-level
    * O(n·2√k) route for that regime.
    */
  def semanticDedup(corpus: DataFrame, centroids: DataFrame,
      threshold: Double): DataFrame =
    pruneWithinClusters(assignFlat(corpus, centroids), threshold)

  /** Cosine argmax over a one-row broadcast quantizer array — the
    * native codegen'd expression (graft.functions.CosineArgmax): one
    * fused nested loop per row, no per-element lambda dispatch. The
    * quantizer is sorted ascending by cid (sort_array; struct ordering
    * is field-lexicographic) and strict `>` keeps the LOWEST cid on
    * cosine ties — a planted scaled copy scores a bit-identical cosine,
    * so tie policy is load-bearing for determinism, not a corner case.
    * Returns the winning cid (long). */
  private[graft] def argmaxCosine(e: Column, cents: Column): Column =
    graft.functions.VectorFunctions.cosineArgmax(e, cents)

  /** The composed HOF form (kept for the equivalence test — it is the
    * semantics the native expression must reproduce, tie policy
    * included; ArrayAggregate is CodegenFallback, so the native form
    * replaced it on the n·k assignment hot path). */
  private[graft] def argmaxCosineDeclarative(e: Column, cents: Column): Column =
    aggregate(
      cents,
      struct(lit(-2.0).as("ccos"), lit(-1L).as("cid")),
      (acc, c) => {
        val cc = cosine(e, c.getField("ce"))
        when(cc > acc.getField("ccos"),
          struct(cc.as("ccos"), c.getField("cid").as("cid")))
          .otherwise(acc)
      }).getField("cid")

  /** One-row broadcastable quantizer: (cid, ce) rows collapsed to a
    * single sorted array-of-structs — no scored (vector × centroid) row
    * ever exists to shuffle or sort. */
  private[graft] def quantizer(centroids: DataFrame): DataFrame =
    centroids
      .agg(sort_array(collect_list(struct(col("cid"), col("ce")))).as("cents"))

  /** Flat assignment: every vector folds over the FULL quantizer —
    * O(n·k) map FLOPs, zero shuffle. Right while k is bounded. */
  private[graft] def assignFlat(corpus: DataFrame,
      centroids: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(quantizer(centroids)))
      .select(argmaxCosine(col("e"), col("cents")).as("cid"),
        col("vec_id"), col("e"))

  /** Two-level (IVF-style) assignment — the 100 TB path. SemDeDup's
    * scale lever grows the centroid count ∝ n to hold |cluster|
    * constant, which silently turns flat assignment's n·k map work
    * into n²/|cluster|: linear join volume bought with quadratic
    * FLOPs. Coarsening the quantizer restores balance: every
    * ⌈√k⌉-th centroid (cid order — deterministic, no training pass)
    * becomes a level-1 representative, each centroid joins its nearest
    * representative's cell, and a vector folds over the ~√k reps then
    * the ~√k members of the chosen cell — O(n·2√k) total, so k can
    * track n up to n ≈ cluster_size·(FLOP budget)² before assignment
    * dominates again (then recurse: three levels, ∛k). Both levels
    * stay broadcast joins; assignment still never shuffles the corpus.
    * The trade is the standard IVF one — a vector near a cell boundary
    * may miss its true nearest centroid — but scale-invariance
    * survives: a ×scale copy follows its original through BOTH argmax
    * levels, so planted-copy recall stays exactly 1 and the prune set
    * is deterministic (witnessed in ExtSpec, oracled end-to-end).
    *
    * Measured (StressMain semantic_ksweep: 64k-vector corpus, noop
    * sink, native argmax): flat 5.5 / 7.4 / 12.2 / 20.0 s at
    * k = 2000 / 8000 / 16000 / 32000 — linear in k as modeled — vs
    * two-level ≈3 s flat across the sweep; crossover ≈ k 4000, 6× at
    * k 32000 and widening as √k. With the interpreted fold instead of
    * the native expression the same sweep read 140 s / 173 s at
    * k=32000 — the per-element lambda dispatch, not the FLOPs, was
    * the bound, which is why [[argmaxCosine]] is a codegen'd
    * Expression and not an `aggregate` HOF.
    */
  private[graft] def assignHier(corpus: DataFrame,
      centroids: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // rep stride s = ⌈√k⌉ derived IN the plan (one-row aggregate,
    // broadcast) — no driver-side count action at build time. The
    // global row_number window runs over the k centroid rows only:
    // single-partition is exactly right for a quantizer build.
    val ranked = centroids.withColumn("rn",
      row_number().over(Window.orderBy("cid")))
    val stride = centroids
      .agg(ceil(sqrt(count(lit(1)))).cast("long").as("s"))
    val reps = ranked.crossJoin(broadcast(stride))
      .filter(pmod(col("rn") - 1, col("s")) === 0)
      .select(col("cid").as("rcid"), col("ce").as("rce"))
    val repArr = quantizer(
      reps.select(col("rcid").as("cid"), col("rce").as("ce")))
    // level-1: each centroid joins its nearest rep's cell
    val centCell = centroids.crossJoin(broadcast(repArr))
      .select(argmaxCosine(col("ce"), col("cents")).as("cell"),
        col("cid"), col("ce"))
    // per-cell sub-quantizers collapsed to ONE cell→members map row —
    // the same single-broadcast-row shape as the flat quantizer. (A
    // broadcast equi-join on cell was measured first: every joined
    // output row MATERIALIZES its cell's member array — ~|cell|·dim·8
    // bytes copied per corpus row — and at 16× growth that copy
    // traffic made the two-level route SLOWER than flat. The one-row
    // map + element_at lookup keeps the members by reference.)
    val cellMap = centCell.groupBy("cell")
      .agg(sort_array(collect_list(struct(col("cid"), col("ce")))).as("cents"))
      .agg(map_from_entries(collect_list(struct(col("cell"), col("cents"))))
        .as("cellmap"))
    // vectors: nearest rep, then argmax within that cell's members only
    corpus.crossJoin(broadcast(repArr))
      .withColumn("cell", argmaxCosine(col("e"), col("cents")))
      .drop("cents")
      .crossJoin(broadcast(cellMap))
      .select(
        argmaxCosine(col("e"), element_at(col("cellmap"), col("cell")))
          .as("cid"),
        col("vec_id"), col("e"))
  }

  /** Within-cluster prune shared by both assignment strategies: a row
    * is pruned iff a SMALLER-id vector in its cluster is within
    * threshold — keep-lowest-id, the same canonical-representative
    * policy as exact dedup. One equi-join shuffle on cid. */
  private def pruneWithinClusters(assigned: DataFrame,
      threshold: Double): DataFrame = {
    val dups = assigned.alias("x").join(assigned.alias("y"),
        col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id"))
      .filter(cosine(col("x.e"), col("y.e")) >= threshold)
      .select(col("y.vec_id").as("vec_id")).distinct()
    assigned
      .join(dups.withColumn("dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("dup").isNull.as("kept"))
  }

  /** SemDeDup with the two-level quantizer — see [[assignHier]]. */
  def semanticDedupHier(corpus: DataFrame, centroids: DataFrame,
      threshold: Double): DataFrame =
    pruneWithinClusters(assignHier(corpus, centroids), threshold)

  /** Semantic dedup over the scaled-copy planted corpus: every-16th
    * base vector is a centroid (the deterministic quantizer the IVF key
    * established — swap in Similarity.kmeansCentroids for the trained
    * one), cosine assignment, within-cluster prune at 0.99. Planted
    * ×1.5 copies share their original's cluster deterministically
    * (scale-invariant assignment) and sit at cosine ~1.0, so exactly
    * the 500 copies drop and every base vector survives.
    */
  val semantic = QueryDef(
    "dedup_semantic",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
      val corpus = emb.unionAll(
        emb.select((col("vec_id") + PlantedOffset).as("vec_id"),
          transform(col("e"), x => x * 1.5).as("e")))
      val centroids = emb.filter(col("vec_id") % 16 === 0)
        .select(col("vec_id").as("cid"), col("e").as("ce"))
      semanticDedup(corpus, centroids, threshold = 0.99)
    },
    Some("""
      WITH corpus AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        UNION ALL
        SELECT vec_id + 10000000,
               list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.5)
        FROM embeddings),
      c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
            FROM embeddings WHERE vec_id % 16 = 0),
      assigned AS (
        SELECT cid, vec_id, e FROM (
          SELECT c.cid, x.vec_id, x.e,
                 row_number() OVER (PARTITION BY x.vec_id
                   ORDER BY list_cosine_similarity(x.e, c.ce) DESC, c.cid)
                   AS arn
          FROM corpus x CROSS JOIN c)
        WHERE arn = 1),
      dups AS (
        SELECT DISTINCT y.vec_id
        FROM assigned x JOIN assigned y
          ON x.cid = y.cid AND x.vec_id < y.vec_id
        WHERE list_cosine_similarity(x.e, y.e) >= 0.99)
      SELECT a.vec_id, a.cid, d.vec_id IS NULL AS kept
      FROM assigned a LEFT JOIN dups d ON a.vec_id = d.vec_id"""))

  /** The two-level-quantizer face of [[semantic]]: same planted corpus,
    * same every-16th-vector centroids, same 0.99 within-cluster prune —
    * assignment routed through ⌈√k⌉ level-1 representatives
    * ([[assignHier]]). The oracle replays BOTH argmax levels (rep
    * choice, then cell-constrained centroid choice) with the same
    * lowest-id tie rule, so the full hierarchical route — not just the
    * prune — is hash-checked against DuckDB. Scaled ×1.5 copies follow
    * their originals through both levels (cosine scale-invariance), so
    * exactly the 500 planted copies drop here too. */
  val semanticHier = QueryDef(
    "dedup_semantic_hier",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
      val corpus = emb.unionAll(
        emb.select((col("vec_id") + PlantedOffset).as("vec_id"),
          transform(col("e"), x => x * 1.5).as("e")))
      val centroids = emb.filter(col("vec_id") % 16 === 0)
        .select(col("vec_id").as("cid"), col("e").as("ce"))
      semanticDedupHier(corpus, centroids, threshold = 0.99)
    },
    Some("""
      WITH corpus AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        UNION ALL
        SELECT vec_id + 10000000,
               list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.5)
        FROM embeddings),
      c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
            FROM embeddings WHERE vec_id % 16 = 0),
      stride AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS s FROM c),
      ranked AS (SELECT cid, ce, row_number() OVER (ORDER BY cid) AS rn
                 FROM c),
      reps AS (SELECT cid AS rcid, ce AS rce FROM ranked, stride
               WHERE (rn - 1) % s = 0),
      centcell AS (
        SELECT cell, cid, ce FROM (
          SELECT r.rcid AS cell, c.cid, c.ce,
                 row_number() OVER (PARTITION BY c.cid
                   ORDER BY list_cosine_similarity(c.ce, r.rce) DESC, r.rcid)
                   AS arn
          FROM c CROSS JOIN reps r) WHERE arn = 1),
      veccell AS (
        SELECT cell, vec_id, e FROM (
          SELECT r.rcid AS cell, x.vec_id, x.e,
                 row_number() OVER (PARTITION BY x.vec_id
                   ORDER BY list_cosine_similarity(x.e, r.rce) DESC, r.rcid)
                   AS arn
          FROM corpus x CROSS JOIN reps r) WHERE arn = 1),
      assigned AS (
        SELECT cid, vec_id, e FROM (
          SELECT m.cid, v.vec_id, v.e,
                 row_number() OVER (PARTITION BY v.vec_id
                   ORDER BY list_cosine_similarity(v.e, m.ce) DESC, m.cid)
                   AS arn
          FROM veccell v JOIN centcell m ON v.cell = m.cell) WHERE arn = 1),
      dups AS (
        SELECT DISTINCT y.vec_id
        FROM assigned x JOIN assigned y
          ON x.cid = y.cid AND x.vec_id < y.vec_id
        WHERE list_cosine_similarity(x.e, y.e) >= 0.99)
      SELECT a.vec_id, a.cid, d.vec_id IS NULL AS kept
      FROM assigned a LEFT JOIN dups d ON a.vec_id = d.vec_id"""))

  // --- end-to-end curation --------------------------------------------

  /** The composed curation pipeline — what a training-data engine
    * actually ships: quality gate → exact dedup (keep min doc_id per
    * identical text) → near-dup clustering → keep one canonical doc
    * per cluster. Input is the worst-case corpus: planted near-dups
    * (+10M perturbed) AND planted exact copies (+20M on every 10th
    * doc). Output = the curated doc_ids.
    *
    * Every stage is the scale shape already verified in isolation:
    * per-row quality predicate (no shuffle), one groupBy for exact
    * dedup (at 100 TB group on sha2(text), not the text itself — as
    * [[exact]] does; here the text is the join payload so the oracle
    * can replay it), inverted-index near-dup pairs, iterative
    * min-label components. A doc with no shingles (< 4 words) is its
    * own cluster and survives — [[connectedComponents]] attaches
    * isolated nodes.
    */
  /** Library face of the curation pipeline: (doc_id, text) corpus in,
    * curated doc_ids out. Stages: per-row quality gate → exact dedup
    * (keep min doc_id per identical text) → near-dup clustering →
    * fixed-point filter (min-label propagation labels every cluster
    * with its min doc_id, so the canonical survivors are exactly the
    * rows whose label is themselves). */
  /** The curation quality predicate — shared by the batch pipeline and
    * the ingest-time stream ([[graft.streaming.StreamingDedup
    * .curateFoldBatch]]): one definition, so the two faces can never
    * drift on what "good" means. Per-row, stateless, no shuffle. */
  def curationGate(corpus: DataFrame): DataFrame = {
    val t = TextAnalysis.tokens(col("text"))
    val nTok = size(t)
    val nStop = size(filter(t, w => w.isin(TextAnalysis.stopwords: _*)))
    corpus.filter(
      nTok.between(10, 10000) && nStop * 20 >= nTok &&
        length(col("text")) <= nTok * 15)
  }

  def curateCorpus(corpus: DataFrame): DataFrame = {
    val good = curationGate(corpus)
    // cached: referenced by BOTH the near-dup pair generation and the
    // isolated-node attach inside connectedComponents — uncached, the
    // quality gate + exact-dedup shuffle would run twice. Safe to free
    // once connectedComponents returns (its labels are materialized).
    val exactKeep = good.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id", "text")
      .persist()
    val labels = connectedComponents(
      exactKeep.select("doc_id"),
      jaccardPairs(shingleSets(exactKeep)).select("a", "b"))
    exactKeep.unpersist()
    labels.filter(col("doc_id") === col("cluster")).select("doc_id")
  }

  /** OFFLINE repair of online keep-first curation — the periodic pass
    * that closes the documented semantic gap between
    * [[graft.streaming.StreamingDedup.curateFoldBatch]] (ingest-time,
    * keep-first: a doc is rejected iff it near-dups a previously KEPT
    * doc) and this batch pipeline (global min-label clustering).
    * Rerun over the RAW corpus archive (a chain's middle is not in
    * the kept set, so the kept set alone cannot see it), it returns
    * BOTH correction directions as (doc_id, action) rows:
    *
    *  - `retire`: online kept docs a global clustering rejects — the
    *    chain case (a~b~c, a≁c spanning batches: keep-first keeps
    *    both ends, the global clustering keeps only the min);
    *  - `reinstate`: batch-canonical docs the online pass rejected —
    *    the OUT-OF-ORDER-arrival case (r19 review #2: a cluster's min
    *    arriving AFTER a kept sibling is rejected online, and a
    *    retire-only repair would empty the cluster instead of
    *    converging). Under id-ordered ingest this side is provably
    *    empty (a cluster min can only be rejected by a smaller kept
    *    near-dup — contradicting minimality), which is why the
    *    retire-only spelling looked sufficient.
    *
    * Applying both (kept ∖ retire ∪ reinstate) equals the batch
    * pipeline's canonical set EXACTLY, for any arrival order — the
    * streaming spec pins the chain, the out-of-order cluster, and the
    * no-divergence case on a stream-produced kept set. Scale: one
    * batch-curation pass (the measured corpus_curate shape) + two
    * anti-joins keyed on doc_id. */
  def curationRepair(corpus: DataFrame, keptIds: DataFrame): DataFrame = {
    val canonical = curateCorpus(corpus).persist()
    val kept = keptIds.select("doc_id")
    val out = Work.materialize("curation_repair",
      kept.join(canonical, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit("retire").as("action"))
        .unionAll(canonical.join(kept, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), lit("reinstate").as("action"))))
    // materialize executed both anti-joins off the one cached
    // canonical pass; the returned frame is a clean scan, so the
    // cache releases here instead of leaking across the session
    canonical.unpersist(): Unit
    out
  }

  /** Witness of the INGEST-TIME curation stream (r18 verdict #6): the
    * worst-case corpus arrives as three ordered micro-batches through
    * the log store (originals, then the near-dup crawl, then the
    * exact-copy crawl — the re-crawl reality where originals predate
    * their copies), runs [[graft.streaming.StreamingDedup
    * .curateStream]] to completion, and the accumulated kept sinks are
    * the result — oracled by the SAME SQL as the batch pipeline
    * (stream == batch on this corpus; the chain caveat is on
    * curateFoldBatch's scaladoc, and StreamingSpec additionally pins
    * the equality across a mid-stream checkpoint kill). */
  val curateStreamQ = QueryDef(
    "corpus_curate_stream",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val corpus = plantedCorpus(docs).unionAll(
        docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 20000000L).as("doc_id"), col("text")))
      val base = Work.scratch("curate_stream")
      Work.clean(base)
      val store = graft.connector.LogStore(base)
      Seq(
        corpus.filter(col("doc_id") < PlantedOffset),
        corpus.filter(col("doc_id") >= PlantedOffset &&
          col("doc_id") < 20000000L),
        corpus.filter(col("doc_id") >= 20000000L)
      ).foreach(sl => store.append(sl.coalesce(1), "scope", "cu"))
      val docSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val q = graft.streaming.StreamingDedup.curateStream(
        store.readStream(s, "scope", "cu", docSchema,
          maxFilesPerTrigger = 1),
        s"$base/idx", s"$base/kept", s"$base/ckpt")
      q.processAllAvailable()
      q.stop()
      graft.streaming.StreamingDedup.readKept(s, s"$base/kept")
        .select("doc_id")
    },
    None) // oracle assigned below — the batch pipeline's SQL, verbatim

  val curate = QueryDef(
    "corpus_curate",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      curateCorpus(plantedCorpus(docs).unionAll(
        docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))))
    },
    Some(s"""
      WITH RECURSIVE corpus AS (
        $plantedCorpusSql
        UNION ALL
        SELECT doc_id + 20000000, text FROM documents WHERE doc_id % 10 = 0),
      good AS (
        SELECT doc_id, text FROM corpus
        WHERE len(regexp_split_to_array(trim(text), '\\s+')) BETWEEN 10 AND 10000
          AND len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
              w -> w IN (${TextAnalysis.stopwords.map("'" + _ + "'").mkString(",")}))) * 20
              >= len(regexp_split_to_array(trim(text), '\\s+'))
          AND length(text) <= len(regexp_split_to_array(trim(text), '\\s+')) * 15),
      ek AS (SELECT min(doc_id) AS doc_id, text FROM good GROUP BY text),
      sh AS (SELECT doc_id,
                    list_distinct(list_transform(
                      generate_series(1, len(ws) - 3),
                      i -> array_to_string(ws[i:i+3], ' '))) AS shs
             FROM (SELECT doc_id, ${TextAnalysis.wsSplitSql("text")} AS ws
                   FROM ek)
             WHERE len(ws) >= 4),
      inv AS (SELECT doc_id, len(shs) AS n, unnest(shs) AS sh FROM sh),
      edges AS (
        SELECT a.doc_id AS a, b.doc_id AS b
        FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.n, b.n
        HAVING count(*) * 3 >= a.n + b.n),
      und AS (SELECT a AS src, b AS dst FROM edges
              UNION ALL SELECT b, a FROM edges),
      reach AS (
        SELECT doc_id AS node, doc_id AS label FROM ek
        UNION
        SELECT e.dst, r.label FROM reach r JOIN und e ON e.src = r.node),
      lab AS (SELECT node AS doc_id, min(label) AS cluster
              FROM reach GROUP BY 1)
      SELECT doc_id FROM lab WHERE doc_id = cluster"""))

  // --- repeated spans (exact substring dedup) -------------------------

  /** Cross-document repeated-span detection — the exact-substring dedup
    * of "Deduplicating Training Data Makes Language Models Better"
    * (Lee et al., ACL 2022) re-expressed relationally: the paper builds
    * a suffix array over the concatenated corpus; a suffix array does
    * not shard, but its output — maximal spans whose every word lies in
    * some k-gram occurring in ≥2 documents — is reproducible with three
    * bounded shuffles:
    *
    *   1. positional k-gram shingles (doc_id, pos, sha2(gram)) — a
    *      projection, no shuffle;
    *   2. grams shared by ≥2 DISTINCT docs: groupBy(hash) with a
    *      count-distinct partial — shuffle keys are 64-hex digests, one
    *      row per distinct gram out, hot grams (boilerplate) collapse
    *      map-side;
    *   3. join occurrences back on the hash (shuffle on hash), then a
    *      per-doc gaps-and-islands merge: duplicated positions ≤ k-1
    *      apart cover an unbroken duplicated word range, so lag + one
    *      running-sum window (shuffle on doc_id, shard-local at scale)
    *      produces maximal spans [min_pos, max_pos + k - 1].
    *
    * Within-doc-only repeats are excluded (distinct-doc df; the
    * text_repetition key scores those); spans shorter than
    * `minSpanWords` are noise and dropped (the paper's 50-char floor,
    * in words). Output: (doc_id, span_start, span_words), 1-based word
    * positions — the cut-list a span-removal pass consumes.
    */
  def repeatedSpans(docs: DataFrame, k: Int = 8,
      minSpanWords: Int = 12): DataFrame = {
    require(k >= 2, s"k-gram width must be >= 2, got $k")
    require(minSpanWords >= k,
      s"minSpanWords ($minSpanWords) below the gram width ($k) selects nothing extra")
    val words = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ws"))
      .filter(size(col("ws")) >= k)
    // gram identity = xxhash64 of the sliced word array: no gram string
    // is ever materialized and the df/join shuffles carry 8-byte keys
    // (measured 4.2 -> 2.4 s at sf0.1 vs sha2-of-string grams). The
    // oracle needs no matching values — it groups on the raw gram text.
    // 64-bit ids are collision-safe to ~1e8 grams (p ≈ n²/2⁶⁵); a
    // 100 TB corpus (~1e12 grams) pairs this with the 128-bit form
    // (two seeds), same plan.
    val sh = words
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(ws) - ${k - 1}), " +
          s"p -> xxhash64(slice(ws, p, $k)))")))
      .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("pos"),
        col("col").as("h"))
    // "≥ 2 distinct docs" needs no count-distinct rewrite (Expand +
    // double shuffle): min(doc_id) ≠ max(doc_id) is the same predicate
    // as one algebraic pass with map-side partials
    val shared = sh.groupBy("h")
      .agg(min("doc_id").as("dmin"), max("doc_id").as("dmax"))
      .filter(col("dmin") =!= col("dmax"))
      .select("h")
    // shuffle-hash, shared as build side: Catalyst's size estimate for
    // sh predates the ~word-count× explode (a few MB of parquet), so
    // left alone AQE BROADCASTS the full occurrence set and streams the
    // gram ids — backwards at any scale (measured 2.9 → 1.6 s pinned;
    // shared boilerplate grams can be huge too, so no broadcast hint on
    // `shared` either). The gram explode deliberately computes twice
    // (agg pass prunes pos, probe pass carries it — cheaper than
    // forcing one fat reusable exchange); a 100 TB run that wants it
    // once materializes sh as a table first.
    val dup = sh.join(shared.hint("shuffle_hash"), "h")
      .select("doc_id", "pos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    dup
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) <= k - 1, 0L).otherwise(1L))
      .withColumn("grp", sum("brk").over(w))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("span_start"),
        (max("pos") - min("pos") + lit(k.toLong)).as("span_words"))
      .filter(col("span_words") >= minSpanWords)
      .select("doc_id", "span_start", "span_words")
  }

  val repeatedSpansQ = QueryDef(
    "dedup_repeated_spans",
    (s, dir) => repeatedSpans(
      plantedCorpus(Tables(s, dir, "documents")), k = 8, minSpanWords = 12),
    Some(s"""
      WITH corpus AS ($plantedCorpusSql),
      words AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
        FROM corpus),
      sh AS (
        SELECT doc_id,
               unnest(generate_series(1, len(ws) - 7)) AS pos,
               unnest(list_transform(generate_series(1, len(ws) - 7),
                 p -> array_to_string(ws[p:p+7], ' '))) AS h
        FROM words WHERE len(ws) >= 8),
      shared AS (
        SELECT h FROM sh
        GROUP BY h HAVING min(doc_id) <> max(doc_id)),
      dup AS (SELECT doc_id, pos FROM sh JOIN shared USING (h)),
      g AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER
                      (PARTITION BY doc_id ORDER BY pos) <= 7
                    THEN 0 ELSE 1 END AS brk
        FROM dup),
      gg AS (
        SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM g)
      SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
             CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_words
      FROM gg GROUP BY doc_id, grp
      HAVING max(pos) - min(pos) + 8 >= 12"""))

  /** Span removal — the consuming half of the exact-substring dedup:
    * rewrite each document with the cut-list's word ranges excised
    * (Lee et al. 2022 drop the duplicated bytes from the corpus; here
    * every listed occurrence is removed — a keep-one-copy policy is a
    * filter on the cut-list, not a different operator).
    *
    * Shape: spans collapse to one row per affected doc (shuffle on
    * doc_id, only docs WITH duplicates survive), then a doc_id
    * equi-join back to the corpus — AQE broadcasts the cut-list when
    * duplication is sparse, shuffles when it is not — and the rewrite
    * itself is a per-row higher-order filter over the word array
    * (codegen'd, no window, no explode): a word is kept unless its
    * 1-based position falls inside any cut. repeatedSpans emits
    * disjoint per-doc spans, so no overlap handling is needed.
    * Docs without spans (including those under the gram width) pass
    * through with whitespace normalized, `removed_words` 0.
    */
  def removeSpans(docs: DataFrame, spans: DataFrame): DataFrame = {
    val cuts = spans.groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_words")))
        .as("cuts"))
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ws"))
      .join(cuts, Seq("doc_id"), "left")
      .withColumn("kept", expr(
        """CASE WHEN cuts IS NULL THEN ws
                ELSE filter(ws, (w, i) ->
                  NOT exists(cuts, c -> i + 1 >= c.span_start
                    AND i + 1 < c.span_start + c.span_words)) END"""))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("clean_text"),
        (size(col("ws")) - size(col("kept"))).cast(LongType)
          .as("removed_words"))
  }

  val removeSpansQ = QueryDef(
    "dedup_remove_spans",
    (s, dir) => {
      val corpus = plantedCorpus(Tables(s, dir, "documents"))
      removeSpans(corpus, repeatedSpans(corpus, k = 8, minSpanWords = 12))
    },
    Some(s"""
      WITH corpus AS ($plantedCorpusSql),
      words AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
        FROM corpus),
      sh AS (
        SELECT doc_id,
               unnest(generate_series(1, len(ws) - 7)) AS pos,
               unnest(list_transform(generate_series(1, len(ws) - 7),
                 p -> array_to_string(ws[p:p+7], ' '))) AS h
        FROM words WHERE len(ws) >= 8),
      shared AS (
        SELECT h FROM sh
        GROUP BY h HAVING min(doc_id) <> max(doc_id)),
      dup AS (SELECT doc_id, pos FROM sh JOIN shared USING (h)),
      g AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER
                      (PARTITION BY doc_id ORDER BY pos) <= 7
                    THEN 0 ELSE 1 END AS brk
        FROM dup),
      gg AS (
        SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM g),
      spans AS (
        SELECT doc_id, min(pos) AS span_start,
               max(pos) - min(pos) + 8 AS span_words
        FROM gg GROUP BY doc_id, grp
        HAVING max(pos) - min(pos) + 8 >= 12),
      cutpos AS (
        SELECT doc_id, span_start + unnest(range(span_words)) AS pos
        FROM spans),
      wordpos AS (
        SELECT doc_id, unnest(generate_series(1, len(ws))) AS pos,
               unnest(ws) AS w
        FROM words),
      kept AS (
        SELECT wp.doc_id, wp.pos, wp.w
        FROM wordpos wp
        WHERE NOT EXISTS (SELECT 1 FROM cutpos c
                          WHERE c.doc_id = wp.doc_id AND c.pos = wp.pos))
      SELECT w.doc_id,
             coalesce(string_agg(k.w, ' ' ORDER BY k.pos), '') AS clean_text,
             CAST(len(w.ws) - count(k.w) AS BIGINT) AS removed_words
      FROM words w LEFT JOIN kept k ON w.doc_id = k.doc_id
      GROUP BY w.doc_id, len(w.ws)"""))

  val all: Seq[QueryDef] =
    Seq(exact, ngramJaccard, ngramJaccardPrefix, containment, minhash,
      incremental, incrementalPub, incrementalPubBucketed,
      incrementalSeg, incrementalSegCompacted, simhash, simhashNearDup,
      simhashWideNearDup,
      embeddingCosine, semantic, semanticHier, clusters, keepBest,
      decontam, contamScore, curate,
      curateStreamQ.copy(oracle = curate.oracle),
      lineDedup, repeatedSpansQ, removeSpansQ)
}
