package graft

import graft.ext.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Growth pins: every operator runs on its input replicated 1× and 4×,
  * each replica salted so replicas never match each other (words
  * suffixed with the replica id, embeddings rotated, ids / days /
  * users / keys offset into disjoint ranges). Naive replication would
  * make every row an exact duplicate of its copies and grow pair
  * output quadratically in the data, whatever the plan; salting keeps
  * the planted structure per replica, so what grows is the plan's.
  *
  * Only quantities that do not depend on timing are asserted, read
  * from [[graft.ops.JobCounter]] and the executed plans' SQL metrics:
  *  - '''flat''': jobs and stages are equal at 1× and 4× (no
  *    job-per-replica or job-per-segment loop);
  *  - '''linear''': the action's rows and the rows every join emits
  *    at 4× are at most `C`·4·(1×), and the 1× rows are > 0 (a pin
  *    must not pass on an empty corpus);
  *  - '''fixed increment''' (`incremental_*`): history grows 4×, the
  *    increment does not — jobs and stages stay flat and the candidate
  *    pairs are equal;
  *  - '''fold''': the rows and bytes a fold reads from history stay
  *    flat as history grows.
  *
  * Run alone with `sbt "testOnly graft.GrowthSpec"`.
  */
class GrowthSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {
  import GrowthSpec._

  override def afterAll(): Unit =
    try Seq("growth_trade_edges", "growth_seg_corpus", "growth_log")
      .foreach(n => Work.clean(Work.scratch(n)))
    finally super.afterAll()

  /** Growth factor of every pair of runs. */
  val Mult = 4

  private lazy val docs = Tables(spark, sf, "documents").select("doc_id", "text")
  private lazy val emb = Tables(spark, sf, "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
  private lazy val events = Tables(spark, sf, "events")
  private lazy val lineitem = Tables(spark, sf, "lineitem")
    .select("l_orderkey", "l_partkey")

  /** n replicas; the 1× input is read as two id-disjoint halves, so it
    * too scans ≥ 2 splits, where `Tables.spread` (which widens a scan
    * with fewer splits than half the session's cores) is already the
    * identity, as on a real table — one plan serves 1× and 4×, and jobs
    * compare exactly. */
  private def union(n: Int, id: String)(replica: Int => DataFrame): DataFrame =
    if (n == 1)
      Seq(0, 1).map(h => replica(0).filter(col(id) % 2 === h)).reduce(_ unionAll _)
    else (0 until n).map(replica).reduce(_ unionAll _)

  /** Replica r: every word suffixed with "~r" (disjoint shingle space
    * across replicas), ids offset into disjoint ranges. */
  def repDocs(n: Int): DataFrame = union(n, "doc_id")(docReplica(_))

  /** `keepStop` leaves stopwords unsalted, so the quality gate (which
    * requires a stopword ratio) still passes every replica; content
    * shingles stay replica-disjoint. */
  def docReplica(r: Int, keepStop: Boolean = false): DataFrame = {
    val stop = ext.TextAnalysis.stopwords
    docs.select((col("doc_id") + lit(r * 100000000L)).as("doc_id"),
      array_join(transform(split(col("text"), " "), w =>
        if (keepStop) when(w.isin(stop: _*), w).otherwise(concat(w, lit(s"~$r")))
        else concat(w, lit(s"~$r"))), " ").as("text"))
  }

  /** Replica r: embedding rotated by r positions (cosine between a
    * vector and a non-trivial rotation of itself is ~0 here). */
  def repEmb(n: Int): DataFrame = union(n, "vec_id") { r =>
    val rot = if (r == 0) col("e")
      else concat(slice(col("e"), r + 1, 64 - r), slice(col("e"), 1, r))
    emb.select((col("vec_id") + lit(r * 100000000L)).as("vec_id"), rot.as("e"))
  }

  /** Replica r: events shifted by r days with disjoint event ids. Over
    * a ~30-day log the shifted replicas overlap, so per-user histories
    * and per-window rows grow n× over a fixed user population;
    * `saltTypes` makes event types (and so window groups) per replica,
    * `saltUsers` makes users per replica (constant per-user density). */
  def repEvents(n: Int, saltTypes: Boolean = false,
      saltUsers: Boolean = false): DataFrame = union(n, "event_id") { r =>
    events.select(
      (col("event_id") + lit(r * 1000000000L)).as("event_id"),
      (col("ts") + lit(r * 86400L * 1000000000L)).as("ts"),
      (if (saltUsers) col("user_id") + lit(r * 1000000000L)
       else col("user_id")).as("user_id"),
      (if (saltTypes) concat(col("event_type"), lit(s"~$r"))
       else col("event_type")).as("event_type"),
      col("value"), col("props"))
  }

  /** Replica r: a disjoint order/part catalog. */
  def repLi(n: Int): DataFrame = union(n, "l_orderkey") { r =>
    lineitem.select(
      (col("l_orderkey") + lit(r * 1000000000L)).as("l_orderkey"),
      (col("l_partkey") + lit(r * 100000000L)).as("l_partkey"))
  }

  // ---- measurement -------------------------------------------------

  private lazy val counter = graft.ops.JobCounter.install(spark)
  private lazy val planLog = {
    val l = new PlanLog
    spark.listenerManager.register(l)
    l
  }

  /** Run `body` and read its cost. Scans under `histDir` count as
    * history reads. */
  def measure(histDir: Option[String] = None)(body: => Long): Cost = {
    GraftSession.dropAllCaches(spark)
    val c0 = counter.snapshot()
    planLog.plans.clear()
    val rows = body
    val jc = counter.snapshot() - c0 // drains the bus: plans are in
    val nodes = planLog.plans.toArray(Array.empty[SparkPlan])
      .toSeq.flatMap(graft.ops.GraftMetrics.operators)
    def sum(ns: Seq[SparkPlan], key: String): Long =
      ns.flatMap(_.metrics.get(key)).map(m => math.max(0L, m.value)).sum
    val hist = nodes.collect {
      case s: FileSourceScanExec
          if histDir.exists(d => s.relation.location.rootPaths
            .exists(_.toString.contains(d))) => s
    }
    Cost(rows, jc.jobs, jc.stages,
      joinRows = sum(nodes.collect { case j: BaseJoinExec => j }, "numOutputRows"),
      exchangeRows = sum(nodes.collect { case e: ShuffleExchangeExec => e },
        "shuffleRecordsWritten"),
      histRows = sum(hist, "numOutputRows"),
      histBytes = sum(hist, "filesSize"))
  }

  /** The shared row shape: `run` over `mk(1)` and `mk(Mult)`. */
  def pair(name: String, pin: Pin = Linear)(run: DataFrame => Long,
      mk: Int => DataFrame): Row =
    Row(name, pin, { n => val in = mk(n); () => run(in) })

  // ---- the table ---------------------------------------------------

  private val hotPhrase = "hotshingle0 hotshingle1 hotshingle2 hotshingle3 "
  /** Every 16th doc gets one unsalted phrase shared ACROSS replicas, so
    * that shingle's df grows with the corpus while organic dfs stay
    * per replica: the uncapped index pays df² candidates for it. */
  def repDocsHot(n: Int): DataFrame =
    repDocs(n).select(col("doc_id"),
      when(col("doc_id") % 16 === 0, concat(lit(hotPhrase), col("text")))
        .otherwise(col("text")).as("text"))

  /** A df cap above every organic shingle df of the corpus and below
    * the hot phrase's df at 1× (500 docs / 16). */
  val HotDfCap = 24

  private def semCorpus(c: DataFrame) = c.unionAll(
    c.select((col("vec_id") + Dedup.PlantedOffset).as("vec_id"),
      transform(col("e"), x => x * 1.5).as("e")))
  /** Centroids = every 16th vector, so k grows ∝ n and clusters hold
    * their size: the within-cluster join stays linear. */
  private def semCents(c: DataFrame) = c.filter(col("vec_id") % 16 === 0)
    .select(col("vec_id").as("cid"), col("e").as("ce"))

  private def shingled(c: DataFrame) = Dedup.shingleSets(Dedup.plantedCorpus(c))

  private def withConf[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  private def copurchaseTopK(l: DataFrame): Long = {
    val p = l.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val pairs = p.as("a").join(p.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(count(lit(1)).as("n"))
    pairs.unionAll(pairs.select(col("v").as("u"), col("u").as("v"), col("n")))
      .groupBy("u")
      .agg(graft.functions.TopK.smallestK(
        (-col("n")).cast("double"), col("v"), lit(0), 5).as("top"))
      .count()
  }

  private lazy val tradeEdges = {
    val p = Work.scratch("growth_trade_edges")
    Work.clean(p)
    ops.PageRank.tradeEdges(spark, sf).write.parquet(p)
    spark.read.parquet(p)
  }

  private lazy val dsirLr: Array[Long] = {
    val out = new Array[Long](ext.Dsir.Buckets)
    ext.Dsir.logRatioRows(docs, ext.Dsir.targetOf(docs))
      .foreach { case (b, v) => out(b) = v }
    out
  }

  val rows: Seq[Row] = Seq(
    pair("minhash_lsh")(c => Dedup.minhashDedup(Dedup.plantedCorpus(c)).count(), repDocs),
    pair("bm25_topk")(c => ext.Retrieval.bm25Of(c, ext.Retrieval.idfOf(c)).count(), repDocs),
    pair("url_dedup")(c => ext.UrlOps.dedupGroupsOf(ext.UrlOps.canonicalized(c)).count(),
      repDocs),
    // the log-ratio table comes from the 1× corpus, so replicas measure
    // the weight pass, not ratio re-estimation
    Row("dsir_weights", Linear, { n =>
      val (c, lr) = (repDocs(n), dsirLr)
      () => ext.Dsir.weights(c, lr).count()
    }),
    // replicas repeat the SAME planted hosts: groups stay put, rows grow
    pair("url_domain_stats")(c => ext.UrlOps.domainStatsOf(c).count(), repDocs),
    pair("split_leakage_safe")({ c =>
      val labels = c.groupBy("text")
        .agg(min(col("doc_id")).as("cluster"), collect_list(col("doc_id")).as("members"))
        .select(explode(col("members")).as("doc_id"), col("cluster"))
      ops.PipelineOps.splitByCluster(labels).count()
    }, repDocs),
    pair("keep_best")(c => Dedup.keepBestOf(Dedup.plantedCorpus(c)).count(), repDocs),
    pair("keep_best_hot_cap0", LinearOutput)(
      c => Dedup.keepBestOf(Dedup.plantedCorpus(c)).count(), repDocsHot),
    pair("keep_best_hot_cap")(c => Dedup.keepBestOf(Dedup.plantedCorpus(c),
      shingleDfCap = HotDfCap).count(), repDocsHot),
    pair("dedup_incremental")(c => Dedup.incrementalPairsFused(Dedup.plantedCorpus(c),
      col("doc_id") % 100000000L < Dedup.PlantedOffset).count(), repDocs),
    pair("ccnet_buckets")(c => ext.Corpus.ccnetBucketsOf(c).count(), repDocs),
    pair("ngram_jaccard")(c => Dedup.jaccardPairs(shingled(c)).count(), repDocs),
    pair("ngram_jaccard_prefix")(c => Dedup.jaccardPairsPrefix(shingled(c)).count(),
      repDocs),
    // candidate volume: the pair rows entering verification
    pair("jac_cands_full")({ c =>
      val inv = shingled(c).select(col("doc_id"), explode(col("shs")).as("sh"))
      inv.select(col("sh"), col("doc_id").as("a"))
        .join(inv.select(col("sh"), col("doc_id").as("b")), "sh")
        .filter(col("a") < col("b"))
        .select("a", "b").distinct().count()
    }, repDocs),
    pair("jac_cands_prefix")(c => Dedup.prefixCandidates(shingled(c)).count(), repDocs),
    // the distributed fixed point: the bounded-edge driver shortcut
    // would otherwise absorb the small inputs
    pair("clusters_cc")(c => withConf("spark.graft.cc.driverEdges", "0") {
      val sh = shingled(c)
      Dedup.connectedComponents(sh.select("doc_id"),
        Dedup.jaccardPairs(sh).select("a", "b")).count()
    }, repDocs),
    pair("clusters_cc_reliable")({ c =>
      spark.sparkContext.setCheckpointDir(Work.scratch("cc_checkpoint"))
      withConf("spark.graft.cc.reliableCheckpoint", "true") {
        val sh = shingled(c)
        Dedup.connectedComponents(sh.select("doc_id"),
          Dedup.jaccardPairs(sh).select("a", "b"), driverEdgeCap = 0L).count()
      }
    }, repDocs),
    pair("corpus_curate")(c => Dedup.curateCorpus(Dedup.plantedCorpus(c)).count(),
      n => union(n, "doc_id")(docReplica(_, keepStop = true))),
    pair("heavy_hitters")(c => ext.Corpus.heavyHittersOf(c).count(), repDocs),
    pair("knn_pruned")({ c =>
      val q = c.limit(200).select(col("vec_id").as("qid"), col("e").as("qvec"))
      val r = c.select(col("vec_id").as("rid"), col("e").as("rvec"),
        pmod(col("vec_id"), lit(7L)).cast("int").as("label"))
      ml.Knn.predictDistributedPruned(q, r, k = 5).count()
    }, repEmb),
    pair("decontaminate")(c => Dedup.decontaminate(c.filter(col("doc_id") % 10 =!= 0),
      c.filter(col("doc_id") % 10 === 0)).count(), repDocs),
    pair("contamination_score")(c => Dedup.contaminationScore(
      c.filter(col("doc_id") % 10 =!= 0), c.filter(col("doc_id") % 10 === 0)).count(),
      repDocs),
    // the dense channel scores every query against every reference: n×
    // queries over n× references is an n² cross join (LinearOutput)
    Row("hybrid_rrf", LinearOutput, { n =>
      val (d, e) = (repDocs(n), repEmb(n))
      () => ext.Retrieval.hybridRrfOf(
        ext.Retrieval.bm25Of(d, ext.Retrieval.idfOf(d), ext.Retrieval.HybridK),
        e).count()
    }),
    // disjoint graph replicas (node ids offset per replica) of the trade
    // edge list, published once so every replica is a scan
    pair("graph_pagerank")(e => ops.PageRank.pagerankOnEdges(e).count(), n =>
      union(n, "src")(r => tradeEdges.select(
        (col("src") + lit(r * 1000000000L)).as("src"),
        (col("dst") + lit(r * 1000000000L)).as("dst")))),
    // fixed planes: chance candidates grow faster than the data (the
    // control for the log-planes row below)
    pair("embedding_cosine", LinearOutput)(
      c => Dedup.embeddingCosinePairs(semCorpus(c), 0.99).count(), repEmb),
    // the scale lever applied: planes grow with log2(n)
    Row("embedding_cosine_logplanes", Linear, n => () =>
      withConf("spark.graft.lsh.nearDupPlanes",
        (12 + (math.log(n.toDouble) / math.log(2)).round).toString) {
        Dedup.embeddingCosinePairs(semCorpus(repEmb(n)), 0.99).count()
      }),
    pair("topk_cosine_lsh")(c => Similarity.lshTopK(
      c.limit(200).select(col("vec_id").as("qid"), col("e").as("qe")),
      c.select(col("vec_id").as("rid"), col("e").as("re")), k = 5, dim = 64).count(),
      repEmb),
    pair("inverted_index")(c => ext.Corpus.invertedIndexOf(c).count(), repDocs),
    pair("tfidf_topterms")(c => ext.Corpus.tfidfOf(c).count(), repDocs),
    pair("token_drift")(c => ext.Corpus.tokenDriftOf(c, col("doc_id") % 2 === 0).count(),
      repDocs),
    // synthetic 64-bit signatures, uniform per id pair (2i, 2i+1):
    // every pair is a planted exact match, and the chance-candidate
    // term n²·4/2¹⁶ stays far below the planted pairs at these n
    pair("phash_band_pairs")(c => ext.Multimodal.phashPairs(c).count(),
      n => spark.range(n.toLong * 20000).select(
        (col("id").as("doc_id") +: (0 until 4).map(k =>
          pmod(xxhash64(floor(col("id") / 2), lit(k)), lit(65536))
            .cast("int").as(s"b$k"))): _*)),
    pair("pack_chunk_text")(c => ext.Chunking.packChunkTextOf(c).count(), repDocs),
    pair("semantic_flat")(c => Dedup.semanticDedup(semCorpus(c), semCents(c), 0.99)
      .filter(!col("kept")).count(), repEmb),
    pair("semantic_hier")(c => Dedup.semanticDedupHier(semCorpus(c), semCents(c), 0.99)
      .filter(!col("kept")).count(), repEmb),
    pair("containment")(c => Dedup.containmentPairs(shingled(c)).count(), repDocs),
    pair("repeated_spans")(c => Dedup.repeatedSpans(Dedup.plantedCorpus(c)).count(),
      repDocs),
    pair("remove_spans")({ c =>
      val p = Dedup.plantedCorpus(c)
      Dedup.removeSpans(p, Dedup.repeatedSpans(p)).count()
    }, repDocs),
    // the log-store append is setup; the bounded read + the one
    // (window, event_type) shuffle is measured
    Row("stream_window_agg", Linear, { n =>
      val base = Work.scratch("growth_log")
      Work.clean(base)
      val store = connector.LogStore(base)
      store.append(repEvents(n, saltTypes = true), "scope", "events-stream")
      () => streaming.StreamOps.windowAggOf(store.readBounded(spark, "scope",
        "events-stream", streaming.StreamOps.eventSchema)).count()
    }),
    pair("window_quantile")(e => streaming.StreamOps.windowQuantileOf(e).count(),
      repEvents(_)),
    // the log folded into ten 5-minute windows (a few events each would
    // have no fences) with one planted spike per 100 events, so every
    // window has outliers and each replica adds rows, not windows
    pair("window_outlier_tukey")(e => streaming.StreamOps.windowOutliersOf(e).count(),
      n => repEvents(n).select(col("event_id"),
        (col("ts") % lit(3000L * 1000000000L)).as("ts"), col("user_id"),
        col("event_type"), when(col("event_id") % 100 === 0, col("value") * 1000)
          .otherwise(col("value")).as("value"), col("props"))),
    pair("event_funnel")(e => ops.Funnel.funnelOf(e).count(), repEvents(_)),
    pair("event_retention")(e => ops.Funnel.retentionOf(e).count(), repEvents(_)),
    pair("event_transitions")(e => ops.Funnel.transitionsOf(e).count(), repEvents(_)),
    pair("shuffle_det")(c => ext.Corpus.shuffleOf(c).count(), repDocs),
    pair("scd2_intervals")(e => ops.Relational.scd2Of(e).count(), repEvents(_)),
    pair("rolling_window")(e => ops.Relational.rollingWindowOf(e).count(), repEvents(_)),
    pair("attribution")(e => ops.Funnel.lastTouchOf(e).count(), repEvents(_)),
    pair("hopping_window")(e => streaming.StreamOps.hoppingAggOf(e).count(), repEvents(_)),
    pair("new_vs_returning")(e => ops.Funnel.newVsReturningOf(e).count(), repEvents(_)),
    pair("window_topk")(e => streaming.StreamOps.windowTopkOf(e).count(), repEvents(_)),
    pair("top_paths")(e => ops.Funnel.topPathsOf(e).count(), repEvents(_)),
    pair("window_approx_users")(e => streaming.StreamOps.windowApproxUsersOf(e).count(),
      repEvents(_)),
    // the sketch is a fixed d×w whatever the input
    pair("count_min_grid")(e => e.select(col("user_id"))
      .agg(graft.functions.CountMin.countMin(col("user_id"), 4, 512).as("cm"))
      .select("cm.total").collect().head.getLong(0), repEvents(_)),
    pair("graph_triangles")(l => ops.Triangles.triangleList(
      ops.Triangles.coPurchaseEdgesOf(l)).count(), repLi),
    // user-salted: the day-shifted replicas would densify every user's
    // lookback n× and grow this interval join with the data
    pair("attribution_multi")(e => ops.Funnel.multiTouchOf(e).count(),
      repEvents(_, saltUsers = true)),
    pair("copurchase_topk")(copurchaseTopK, repLi),
    pair("boilerplate")(c => ext.TextAnalysis.boilerplateOf(c).count(), repDocs),
    // nation keys offset per replica: disjoint blocking spaces
    pair("er_blocked_match")(c => ext.EntityResolution.erMatchOf(c).count(), n => {
      val cust = Tables(spark, sf, "customer")
      union(n, "c_custkey")(r => cust.select(
        (col("c_custkey") + lit(r * 1000000L)).as("c_custkey"),
        col("c_name"), (col("c_nationkey") + lit(r * 100)).as("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment")))
    })
  )

  rows.foreach { row =>
    test(s"growth ${row.name}: ${row.pin} at 1x vs ${Mult}x") {
      val Seq(base, big) = Seq(1, Mult).map { n =>
        val action = row.setup(n)
        measure()(action())
      }
      println(s"[growth] ${row.name} 1x=$base ${Mult}x=$big")
      assert(big.jobs == base.jobs && big.stages == base.stages,
        s"jobs/stages must be flat: 1x=$base ${Mult}x=$big")
      assert(base.rows > 0, s"empty 1x output: $base")
      assert(big.rows <= C * Mult * base.rows,
        s"rows grew past ${C}·${Mult}×: 1x=$base ${Mult}x=$big")
      if (row.pin == Linear)
        assert(big.joinRows <= C * Mult * base.joinRows,
          s"join rows grew past ${C}·${Mult}×: 1x=$base ${Mult}x=$big")
    }
  }

  // ---- published history: a fixed increment ------------------------

  test("growth incremental_pub_hist, incremental_pub_bucketed, " +
      "incremental_composed: a fixed increment probes 1x and 4x history " +
      "with flat jobs and the same pairs") {
    val inc = Dedup.plantedCorpus(repDocs(1)).filter(!segHistPred)
    // one index per size, probed after each layout step: one plain
    // segment; compacted into one bucketed segment; and with a constant
    // replica-sized plain tail beside that (one more flavor, never an
    // n×-sized stage)
    val steps: Seq[(String, (Int, String) => Unit)] = Seq(
      "incremental_pub_hist" -> ((_, _) => ()),
      "incremental_pub_bucketed" -> ((_, p) =>
        Dedup.compactSegments(spark, p, "c0"): Unit),
      "incremental_composed" -> ((n, p) =>
        Dedup.publishHistorySegment(spark, p, "tail", docReplica(n)): Unit))
    val paths = Seq(1, Mult).map(n => Work.scratch(s"growth_incremental_$n"))
    try {
      val costs = Seq(1, Mult).zip(paths).map { case (n, p) =>
        Work.clean(p)
        Dedup.publishHistorySegment(spark, p, "hist",
          Dedup.plantedCorpus(repDocs(n)).filter(segHistPred))
        steps.map { case (_, step) =>
          step(n, p)
          measure()(Dedup.incrementalAgainstSegmentedIndex(spark, p, inc).count())
        }
      }
      steps.map(_._1).zip(costs.transpose).foreach {
        case (name, Seq(base, big)) =>
          println(s"[growth] $name 1x=$base ${Mult}x=$big")
          assert(big.jobs == base.jobs && big.stages == base.stages,
            s"$name: jobs/stages must be flat: 1x=$base ${Mult}x=$big")
          assert(base.rows > 0 && big.rows == base.rows,
            s"$name: the fixed increment's pairs must stay put: 1x=$base ${Mult}x=$big")
        case other => fail(s"two sizes expected: $other")
      }
    } finally paths.foreach(Work.clean)
  }

  // ---- whole-plan top-k: the exchange stays O(|Q|·k) ----------------

  /** 200 fixed queries (replica 0's first vectors) against references
    * that grow n×. As written, Spark's own window group limit already
    * sorts the scored rows per partition and ships k of them per query;
    * under TopKRewrite no scored row is sorted, and one bounded heap
    * row per (query, partition) crosses. The `_rank` twin rounds scores
    * so tie groups are real and the tie-keeping buffer is exercised. */
  private val TopK = 5
  private val TopKQueries = 200
  private def topkQueries(c: DataFrame) = c.filter(col("vec_id") < TopKQueries)
    .select(col("vec_id").as("qid"), col("e").as("qe"))
  private val topkRows: Seq[(String, DataFrame => DataFrame)] = Seq(
    "topk_window_rewrite" -> { c =>
      Similarity.bruteForceTopKWindow(topkQueries(c),
        c.select(col("vec_id").as("rid"), col("e").as("re")), TopK)
    },
    "topk_rank_rewrite" -> { c =>
      import org.apache.spark.sql.expressions.Window
      // no rid tiebreak: the order must not be total
      val w = Window.partitionBy("qid").orderBy(col("cos2").desc)
      topkQueries(c)
        .crossJoin(broadcast(c.select(col("vec_id").as("rid"), col("e").as("re"))))
        .select(col("qid"), col("rid"),
          round(Dedup.cosine(col("qe"), col("re")), 2).as("cos2"))
        .withColumn("rnk", rank().over(w))
        .filter(col("rnk") <= TopK)
    })

  topkRows.foreach { case (name, query) =>
    test(s"growth $name: under TopKRewrite the exchange carries one heap " +
        s"row per query, flat at 1x and ${Mult}x") {
      def run(rules: Boolean) = Seq(1, Mult).map { n =>
        val df = query(repEmb(n))
        if (rules) withRules(graft.plans.TopKRewrite)(measure()(df.count()))
        else measure()(df.count())
      }
      val Seq(base, big) = run(rules = true)
      val Seq(naive1, naiveN) = run(rules = false)
      println(s"[growth] $name auto 1x=$base 4x=$big naive 1x=$naive1 4x=$naiveN")
      assert(big.jobs == base.jobs && big.stages == base.stages,
        s"jobs/stages must be flat: 1x=$base ${Mult}x=$big")
      assert(base.rows > 0 && big.rows <= C * base.rows,
        s"|Q|·k output must stay put: 1x=$base ${Mult}x=$big")
      assert(big.exchangeRows <= C * base.exchangeRows &&
          big.exchangeRows < TopK * TopKQueries,
        s"the rewritten exchange must carry < k rows per query, flat: " +
          s"1x=$base ${Mult}x=$big")
      // the control: as written, k rows (plus ties) per query cross
      assert(naive1.exchangeRows >= TopK * TopKQueries &&
          naiveN.exchangeRows >= TopK * TopKQueries,
        s"the window group limit ships k rows per query: 1x=$naive1 ${Mult}x=$naiveN")
    }
  }

  // ---- segmented history: daily folds ---------------------------------

  /** The month-long rows (30 daily folds in their first measurements)
    * run the fewest folds that still exercise each assertion, to keep
    * the suite's time: six plain days for the deep row, four weekly
    * folds for the cadence (one more than the aligned-fold file dial,
    * so the file bound is exercised; a 2-day week so a plain tail sits
    * beside each compacted segment), and for the tiered row three
    * one-day minors (two equal job steps), its major, and two days
    * after it. */
  val DeepDays = 6
  val CadenceWeek = 2
  val CadenceDays = 4 * CadenceWeek

  /** Salted replica d's planted increment: a constant-size daily batch
    * with real matches in its own replica and ids disjoint from every
    * other day's. The base segment holds every replica's history. */
  private lazy val segAll = {
    val p = Work.scratch("growth_seg_corpus")
    Work.clean(p)
    Dedup.plantedCorpus(repDocs(CadenceDays + 1)).write.parquet(p)
    spark.read.parquet(p)
  }
  private val segHistPred = col("doc_id") % 100000000L < Dedup.PlantedOffset
  private def segDay(d: Int) = segAll.filter(!segHistPred &&
    (col("doc_id") / 100000000L).cast("long") === d)

  private def parquetFiles(p: String): Int = {
    val (fsys, root) = Work.fs(p)
    val it = fsys.listFiles(root, true)
    var n = 0
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  /** Publish the base, then fold `days` daily batches: each day's
    * increment is probed (measured), published, and `after(d, path)`
    * runs the row's compaction policy. Returns each day's cost and
    * active-flavor count at probe time. */
  private def foldDays(name: String, days: Int)(
      after: (Int, String) => Unit): (String, Seq[(Cost, Int)]) = {
    val path = Work.scratch(s"growth_$name")
    Work.clean(path)
    Dedup.publishHistorySegment(spark, path, "base", segAll.filter(segHistPred))
    val perDay = (0 until days).map { d =>
      val batch = segDay(d)
      val flavors = Dedup.segmentedIndexFlavors(spark, path).size
      val c = measure()(Dedup.incrementalAgainstSegmentedIndex(spark, path, batch).count())
      Dedup.publishHistorySegment(spark, path, f"day$d%02d", batch)
      after(d, path)
      (c, flavors)
    }
    (path, perDay)
  }

  private def flat(costs: Seq[Cost], what: String): Unit =
    assert(costs.map(c => (c.jobs, c.stages)).distinct.size == 1,
      s"$what: jobs/stages must stay flat: ${costs.mkString(" ")}")

  test("growth incremental_seg_steady: four daily folds of one replica " +
      "probe with flat jobs") {
    val one = Dedup.plantedCorpus(repDocs(1))
    def day(d: Int) = one.filter(!segHistPred && col("doc_id") % 4 === d)
    val path = Work.scratch("growth_seg_steady")
    Work.clean(path)
    try {
      Dedup.publishHistorySegment(spark, path, "base", one.filter(segHistPred))
      val costs = (0 until 4).map { d =>
        val c = measure()(Dedup.incrementalAgainstSegmentedIndex(spark, path,
          day(d)).count())
        Dedup.publishHistorySegment(spark, path, s"day$d", day(d))
        c
      }
      println(s"[growth] seg_steady ${costs.mkString(" ")}")
      assert(costs.forall(_.rows > 0), costs.mkString(" "))
      flat(costs, "steady")
    } finally Work.clean(path)
  }

  test(s"growth incremental_seg_deep + incremental_seg_compact: $DeepDays " +
      "plain daily segments probe with flat jobs and no listing pass; " +
      "compacting them into one keeps the answer and adds no job") {
    val (path, perDay) = foldDays("seg_deep", DeepDays)((_, _) => ())
    try {
      println(s"[growth] seg_deep ${perDay.mkString(" ")}")
      assert(perDay.forall(_._1.rows > 0), perDay.mkString(" "))
      flat(perDay.map(_._1), "deep")
      // the manifest resolves the active set without listing segments
      val lp0 = Dedup.listingPasses.get()
      val pre = measure()(Dedup.incrementalAgainstSegmentedIndex(spark, path,
        segDay(DeepDays)).count())
      assert(Dedup.listingPasses.get() == lp0,
        "a manifest-backed probe must not list the segment dirs")
      val preSegs = Dedup.activeSegments(path).size
      Dedup.compactSegments(spark, path, "c0")
      val post = measure()(Dedup.incrementalAgainstSegmentedIndex(spark, path,
        segDay(DeepDays)).count())
      println(s"[growth] seg_compact pre=$pre post=$post segments $preSegs")
      assert(post.rows == pre.rows && pre.rows > 0, s"pre=$pre post=$post")
      assert(post.jobs <= pre.jobs, s"pre=$pre post=$post")
      // one bucketed segment: one file per bucket and subtable, however
      // many days it folded
      assert(preSegs == DeepDays + 1 && Dedup.activeSegments(path).size == 1)
      assert(parquetFiles(path) <= 2 * Dedup.HistIdxBuckets, s"${parquetFiles(path)} files")
    } finally Work.clean(path)
  }

  test(s"growth incremental_seg_cadence: a full fold every $CadenceWeek " +
      "days keeps per-day jobs periodic and the file count bounded") {
    val files = scala.collection.mutable.ArrayBuffer.empty[Int]
    val (path, perDay) = foldDays("seg_cadence", CadenceDays) { (d, p) =>
      if ((d + 1) % CadenceWeek == 0) {
        Dedup.compactSegments(spark, p, s"c${(d + 1) / CadenceWeek}")
        files += parquetFiles(p)
      }
    }
    try {
      println(s"[growth] seg_cadence ${perDay.mkString(" ")} files=$files")
      assert(perDay.forall(_._1.rows > 0), perDay.mkString(" "))
      // from the second week on, day d probes the same layout as d - week
      (2 * CadenceWeek until CadenceDays).foreach(d =>
        flat(Seq(perDay(d)._1, perDay(d - CadenceWeek)._1), s"day $d"))
      assert(files.max <= files.head * Dedup.AlignedFoldMaxFilesPerBucket,
        s"files after each fold must stay bounded by the file dial: $files")
    } finally Work.clean(path)
  }

  test("growth incremental_seg_tiered: each minor fold adds one flavor " +
      "and one fixed job increment; the major fold resets both") {
    val major = 3
    val (path, perDay) = foldDays("seg_tiered", major + 3) { (d, p) =>
      if (d == major)
        Dedup.compactSegments(spark, p, "major1", adoptAligned = false): Unit
      else if (d < major)
        Dedup.compactSegments(spark, p, s"w$d", victims = Seq(f"day$d%02d")): Unit
    }
    try {
      println(s"[growth] seg_tiered ${perDay.mkString(" ")}")
      assert(perDay.forall(_._1.rows > 0), perDay.mkString(" "))
      val (flavors, jobs) = (perDay.map(_._2), perDay.map(_._1.jobs))
      // each minor adds one bucketed flavor beside the plain base
      (1 to major).foreach(d =>
        assert(flavors(d) == flavors(d - 1) + 1, s"flavors by day: $flavors"))
      // past the first bucketed flavor, every further one adds the same
      // job increment: jobs climb by a fixed step per minor, no faster
      val steps = (2 to major).map(d => jobs(d) - jobs(d - 1))
      assert(steps.distinct.size == 1 && steps.head > 0, s"jobs by day: $jobs")
      // the major resets the fan-out: one flavor, then one plain day beside it
      assert(flavors(major + 1) == 1 && flavors(major + 2) == 2,
        s"flavors by day: $flavors")
      assert(jobs(major + 1) <= jobs(0) && jobs(major + 2) == jobs(1),
        s"jobs by day: $jobs")
    } finally Work.clean(path)
  }

  // ---- folds read the tail, never history ---------------------------

  /** A fixed plain tail, id-disjoint from every replica. */
  private def foldTail = Dedup.plantedCorpus(repDocs(1)).filter(!segHistPred)
    .select((col("doc_id") + 900000000000L).as("doc_id"), col("text"))

  /** Fold rows: `build(n, path)` lays out an index over n× history
    * (unmeasured); the measured fold must read only the fixed tail. */
  private val foldRows: Seq[(String, (Int, String) => Unit, String => Unit)] = Seq(
    // a standing bucketed segment is adopted (hard-linked), never read
    ("fold_append_scaling", { (n, p) =>
      Dedup.publishHistorySegment(spark, p, "hist",
        Dedup.plantedCorpus(repDocs(n)).filter(segHistPred))
      Dedup.compactSegments(spark, p, "c0")
      Dedup.publishHistorySegment(spark, p, "tail", foldTail): Unit
    }, p => Dedup.compactSegments(spark, p, "c1"): Unit),
    // bucket-aligned weeklies collapse by raw row-group concat
    ("major_concat", { (n, p) =>
      val hist = repDocs(n)
      (0 until 2).foreach { k =>
        Dedup.publishHistorySegment(spark, p, s"w$k", hist.filter(col("doc_id") % 2 === k))
        Dedup.compactSegments(spark, p, s"cw$k", victims = Seq(s"w$k")): Unit
      }
      Dedup.publishHistorySegment(spark, p, "tail", foldTail): Unit
    }, p => Dedup.compactSegments(spark, p, "m", adoptAligned = false,
      concatAligned = true): Unit))

  foldRows.foreach { case (name, build, fold) =>
    test(s"growth $name: the fold's jobs and the rows and bytes it reads " +
        s"from the index stay flat as history grows ${Mult}x") {
      val paths = Seq(1, Mult).map(n => Work.scratch(s"growth_${name}_$n"))
      try {
        val Seq(base, big) = Seq(1, Mult).zip(paths).map { case (n, p) =>
          Work.clean(p)
          build(n, p)
          measure(histDir = Some(p))({ fold(p); 0L })
        }
        println(s"[growth] $name 1x=$base 4x=$big")
        assert(big.jobs == base.jobs && big.stages == base.stages,
          s"jobs/stages must be flat: 1x=$base ${Mult}x=$big")
        assert(base.histRows > 0 && big.histRows == base.histRows,
          s"history rows read must stay flat: 1x=$base ${Mult}x=$big")
        assert(big.histBytes <= C * base.histBytes,
          s"history bytes read must stay flat: 1x=$base ${Mult}x=$big")
      } finally paths.foreach(Work.clean)
    }
  }
}

object GrowthSpec {

  /** Slack of every linear bound: 4× input may emit at most
    * `C`·4·(the 1× rows). */
  val C = 1.25

  sealed trait Pin
  /** Jobs/stages equal; rows and join rows at most C·4·(1×). */
  case object Linear extends Pin
  /** Jobs/stages equal; rows at most C·4·(1×), join rows unbounded:
    * the row's candidate join grows faster than its data (a control,
    * or a recorded finding). */
  case object LinearOutput extends Pin

  /** One growth row: `setup(n)` prepares the n-replica input (work that
    * is not the operator's, such as publishing an index) and returns
    * the measured action. */
  final case class Row(name: String, pin: Pin, setup: Int => () => Long)

  final case class Cost(rows: Long, jobs: Int, stages: Int, joinRows: Long,
      exchangeRows: Long, histRows: Long, histBytes: Long)

  /** Collects every successful action's executed plan. */
  final class PlanLog extends QueryExecutionListener {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = plans.add(qe.executedPlan): Unit
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }
}
