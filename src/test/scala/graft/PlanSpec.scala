package graft

import graft.ml.Knn
import graft.ops.Relational
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan assertions: the scale properties the queries are
  * designed around (scan pushdown, broadcast joins, map-side partial
  * aggregation, heap-based global top-k, codegen) are pinned here so a
  * refactor that silently regresses a plan shape fails the build, not
  * the 100 TB run.
  */
class PlanSpec extends SparkSpec {

  private def planOf(df: DataFrame): SparkPlan = {
    df.collect() // force AQE to finalize the adaptive plan
    df.queryExecution.executedPlan
  }

  private def planString(df: DataFrame): String = {
    val p = planOf(df)
    // adaptive plans print the final physical tree after execution
    p.toString
  }

  test("q2: filters and column pruning reach the parquet scan") {
    val s = planString(Relational.q2Filter.fn(spark, sf))
    assert(s.contains("PushedFilters: ["), s.take(2000))
    assert(s.contains("IsNotNull(l_shipdate)") || s.contains("GreaterThanOrEqual"),
      "expected shipdate predicates pushed")
    // pruned read schema: the scan must not read all 16 lineitem columns
    val readSchema = "ReadSchema: struct<(.*?)>".r
      .findFirstMatchIn(s).map(_.group(1)).getOrElse("")
    val nCols = readSchema.split(",").length
    assert(nCols <= 6, s"scan reads $nCols columns, expected <= 6: $readSchema")
  }

  test("IVF assignment and probe are map-side: one window in the whole plan") {
    // the native-argmin rewrite leaves exactly ONE row_number window
    // (the final per-query rank); the old form shuffled n·k scored rows
    // through two more windows before the candidate join
    // final adaptive plan only — the AQE toString repeats every node
    // in its "== Initial Plan ==" section
    val s = planString(graft.ext.Similarity.topkIvf.fn(spark, sf))
      .split("== Initial Plan ==").head
    // count Window OPERATOR nodes ("Window [" — excludes the
    // WindowGroupLimit rank-pushdown helpers and spec references)
    val windows = "Window \\[".r.findAllIn(s).size
    assert(windows == 1, s"expected 1 Window node, found $windows")
    assert(s.contains("l2_argmin"), "native argmin missing from plan")
  }

  test("q39: event-time range predicate pushes to the native timestamp scan") {
    val s = planString(Relational.q39EventTime.fn(spark, sf))
    assert(s.contains("PushedFilters: ["), s.take(2000))
    // both range bounds must reach the scan — row-group min/max pruning
    // on event time is the query's reason to exist
    assert(s.contains("GreaterThanOrEqual(ts") && s.contains("LessThan(ts"),
      "expected both ts range bounds pushed: " + s.take(2000))
    // pruned read schema: ts, event_type, value only
    val readSchema = "ReadSchema: struct<(.*?)>".r
      .findFirstMatchIn(s).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length <= 3,
      s"scan should read 3 columns, got: $readSchema")
  }

  test("q4: dimension join is a broadcast hash join") {
    val s = planString(Relational.q4Broadcast.fn(spark, sf))
    assert(s.contains("BroadcastHashJoin"), s.take(2000))
    assert(!s.contains("SortMergeJoin"), "dimension join must not sort-merge")
  }

  test("q1: aggregation is two-phase (map-side partial combine)") {
    val s = planString(Relational.q1Agg.fn(spark, sf))
    assert("HashAggregate".r.findAllIn(s).length >= 2,
      "expected partial + final HashAggregate:\n" + s.take(2000))
  }

  test("q6: global top-k plans as TakeOrderedAndProject (no full sort)") {
    val s = planString(Relational.q6SortLimit.fn(spark, sf))
    assert(s.contains("TakeOrderedAndProject"), s.take(2000))
  }

  test("prefix candidate generation plans as equi-joins, never all-pairs") {
    import graft.ext.Dedup
    val sh = Dedup.shingleSets(Dedup.plantedCorpus(
      Tables(spark, sf, "documents")))
    val s = planString(Dedup.prefixCandidates(sh))
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"),
      "prefix candidates must join on the shingle key:\n" + s.take(2000))
  }

  test("knn_predict: top-k runs as partial+final object hash aggregate") {
    val (q, r) = Knn.split(spark, sf)
    val scored = q.crossJoin(org.apache.spark.sql.functions.broadcast(r))
      .select(org.apache.spark.sql.functions.col("qid"),
        org.apache.spark.sql.functions.col("rid"),
        org.apache.spark.sql.functions.col("label"),
        Knn.sqDist(org.apache.spark.sql.functions.col("qvec"),
          org.apache.spark.sql.functions.col("rvec")).as("dist"))
    val agg = scored.groupBy("qid")
      .agg(graft.functions.TopK.smallestK(
        org.apache.spark.sql.functions.col("dist"),
        org.apache.spark.sql.functions.col("rid"),
        org.apache.spark.sql.functions.col("label"), 5).as("nbrs"))
    val s = planString(agg)
    assert(s.contains("ObjectHashAggregate"), s.take(2000))
    assert("partial_topk_smallest|partial topk_smallest|topk_smallest"
      .r.findAllIn(s).nonEmpty, s.take(2000))
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("CartesianProduct") ||
      s.contains("BroadcastExchange"), "reference side must be broadcast")
  }

  test("repeated spans: gram join is shuffled, occurrence set never broadcast") {
    // Catalyst's pre-explode size estimate would broadcast the FULL
    // positional-gram occurrence set (word-count× the scan size) and
    // stream the shared-gram ids — backwards at any scale. The join is
    // pinned shuffle-hash with the gram ids as build side.
    val s = planString(graft.ext.Dedup.repeatedSpansQ.fn(spark, sf))
      .split("== Initial Plan ==").head
    assert(s.contains("ShuffledHashJoin"), s.take(2000))
    assert(!s.contains("BroadcastHashJoin"),
      "occurrence-set broadcast crept back:\n" + s.take(2000))
    assert(s.contains("Window"), "gaps-and-islands merge must plan windows")
  }

  test("knn_predict: one shuffle total, no window, no probe/window jobs") {
    // round-7 shape: the majority vote happens inside the aggregated
    // row (array expression over the heap's label array), so the whole
    // prediction is crossJoin-broadcast → one hash-partitioned top-k
    // aggregate → project. A second Exchange or a Window node means
    // the explode → re-groupBy → window vote crept back in.
    val (q, r) = Knn.split(spark, sf)
    // the adaptive plan string repeats the tree under "== Initial
    // Plan ==" — count exchanges in the executed (final) section only
    val s = planString(Knn.predictDistributed(q, r, k = 5))
      .split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(s).length
    assert(exchanges == 1, s"expected exactly 1 shuffle, got $exchanges:\n" +
      s.take(2000))
    assert(!s.contains("Window"), "vote must not plan a Window:\n" + s.take(2000))
    assert(s.contains("BroadcastNestedLoopJoin") ||
      s.contains("BroadcastExchange"), "reference side must be broadcast")
  }

  test("q15: HLL sketches never ride the multi-distinct Expand") {
    // round-8 pathology pin: one combined agg routed partial HLL
    // sketches through the distinct-rewrite Expand, keying ~1.2 KB of
    // sketch per expanded distinct tuple through the shuffle
    // (sketch-bytes × distinct-values at scale; measured 2.6 → 1.0 s
    // split at sf0.1). The split form must keep every HLL aggregate
    // Expand-free and recombine through a join of 1-row results.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Join}
    val plan = graft.ops.Relational.q15Approx.fn(spark, sf)
      .queryExecution.optimizedPlan
    val hllAggs = plan.collect {
      case a: Aggregate if a.aggregateExpressions.exists(_.find(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions
          .aggregate.HyperLogLogPlusPlus]).isDefined) => a
    }
    assert(hllAggs.nonEmpty, "q15 must still compute HLL estimates")
    hllAggs.foreach { a =>
      assert(a.find(_.isInstanceOf[Expand]).isEmpty,
        "HLL aggregate planned over the multi-distinct Expand — " +
          "sketch-per-distinct-tuple shuffle is back:\n" + a.treeString)
    }
    assert(plan.find(_.isInstanceOf[Expand]).isDefined,
      "exact multi-column distinct should still plan its Expand")
    assert(plan.find(_.isInstanceOf[Join]).isDefined,
      "split form recombines through a join of 1-row aggregates")
  }

  test("bucketed join runs with no shuffle exchange on either side") {
    val restore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast join so the assertion targets bucketing
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = graft.ops.Bucketing.bucketedJoinAgg.fn(spark, sf)
      // AQE prints Final Plan then Initial Plan; assert on the final only
      val s = planString(df).split("== Initial Plan ==").head
      val exchanges = "Exchange hashpartitioning".r.findAllIn(s).toSeq
      // one exchange is legitimate: the final groupBy on c_nationkey;
      // the JOIN itself must read co-located buckets with none
      assert(exchanges.length <= 1,
        s"expected at most the aggregate's exchange, got ${exchanges.length}:\n" +
          s.take(3000))
      assert(s.contains("SortMergeJoin"), s.take(2000))
      assert(s.contains("Bucketed: true"), s.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", restore)
  }

  test("bucketed history index: the two stored-side joins run " +
      "exchange-free (r16)") {
    // the co-location contract of the bucketed segment layout: with
    // broadcast disabled (so the assertion targets bucketing, not AQE
    // smallness), the bucketed layout must remove EXACTLY the two
    // history-sized exchanges — the band-bucket table's shuffle into
    // the candidate join and the shingle table's shuffle into the
    // verify a-join — relative to the SAME one-segment index read
    // plain, before compactSegments re-lays it out. Self-calibrating:
    // both spellings are planned in this test, so an unrelated plan
    // change moves both counts together.
    import graft.ext.Dedup
    import org.apache.spark.sql.functions.col
    val restore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val docs = Tables(spark, sf, "documents")
      val inc = Dedup.plantedCorpus(docs)
        .filter(col("doc_id") >= Dedup.PlantedOffset)
      val p = graft.Work.scratch("hidx_plan_onesegment")
      graft.Work.clean(p)
      Dedup.publishHistorySegment(spark, p, "hist",
        docs.select("doc_id", "text"))
      def verifyPlan(): String = {
        val flavors = Dedup.segmentedIndexFlavors(spark, p)
        assert(flavors.size == 1, "a one-segment index has one flavor")
        val (shH, bH) = flavors.head
        val shI = Dedup.shingleSets(inc.select("doc_id", "text"))
        val cands = Dedup.crossSideCandidates(bH,
          Dedup.bandBuckets(Dedup.minhashSignatures(shI)))
        planString(Dedup.verifyJaccardSplit(cands, shH, shI))
          .split("== Initial Plan ==").head
      }
      val plain = verifyPlan()
      Dedup.compactSegments(spark, p, "bucketed", retire = false)
      val bucketed = verifyPlan()
      def exchanges(s: String): Int =
        "Exchange hashpartitioning".r.findAllIn(s).length
      assert(!plain.contains("Bucketed: true"), plain.take(3000))
      assert(bucketed.contains("Bucketed: true"), bucketed.take(3000))
      assert(exchanges(bucketed) == exchanges(plain) - 2,
        s"plain=${exchanges(plain)} bucketed=${exchanges(bucketed)}\n" +
          bucketed.take(3000))
      graft.Work.clean(p)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", restore)
  }

  test("composed segmented index: the compacted-bucketed flavor keeps " +
      "its exchange-free stored-side joins beside the plain tail (r17)") {
    // the steady-state 100 TB layout (r16 verdict #3): one big
    // bucketed COMPACTED segment + a small plain tail. The composed
    // reader must hand each flavor to its own per-flavor join — a
    // unioned stored side would shed the bucket spec and re-pay the
    // history-sized exchange. Pinned exactly like the r16 monolithic
    // twin: with broadcast disabled, the compacted flavor's verify
    // plan carries 2 fewer exchanges than the SAME data read plain,
    // and the plain-tail flavor is planned separately (flavor count).
    import graft.ext.Dedup
    import org.apache.spark.sql.functions.col
    val restore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val docs = Tables(spark, sf, "documents")
      val inc = Dedup.plantedCorpus(docs)
        .filter(col("doc_id") >= Dedup.PlantedOffset)
      val spath = graft.Work.scratch("hidx_plan_composed")
      graft.Work.clean(spath)
      Dedup.publishHistorySegment(spark, spath, "day0",
        docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text"))
      Dedup.compactSegments(spark, spath, "c0")
      Dedup.publishHistorySegment(spark, spath, "day1",
        docs.filter(col("doc_id") % 2 =!= 0).select("doc_id", "text"))
      val flavors = Dedup.segmentedIndexFlavors(spark, spath)
      assert(flavors.size == 2,
        "expected one plain-tail flavor + one bucketed-compacted flavor")
      def verifyPlan(shH: DataFrame, bH: DataFrame): String = {
        val shI = Dedup.shingleSets(inc.select("doc_id", "text"))
        val cands = Dedup.crossSideCandidates(bH,
          Dedup.bandBuckets(Dedup.minhashSignatures(shI)))
        planString(Dedup.verifyJaccardSplit(cands, shH, shI))
          .split("== Initial Plan ==").head
      }
      def exchanges(s: String): Int =
        "Exchange hashpartitioning".r.findAllIn(s).length
      // flavor order: plain tail first, then bucketed segments
      val plainPlan = verifyPlan(flavors.head._1, flavors.head._2)
      val buckPlan = verifyPlan(flavors(1)._1, flavors(1)._2)
      assert(buckPlan.contains("Bucketed: true"), buckPlan.take(3000))
      assert(!plainPlan.contains("Bucketed: true"))
      assert(exchanges(buckPlan) == exchanges(plainPlan) - 2,
        s"plain=${exchanges(plainPlan)} bucketed=${exchanges(buckPlan)}\n" +
          buckPlan.take(3000))
      graft.Work.clean(spath)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", restore)
  }

  test("partitioned_prune_scan: the year filter prunes partitions at the scan") {
    val s = planString(graft.ops.PipelineOps.partitionedPrune.fn(spark, sf))
    assert(s.contains("PartitionFilters: ["), s.take(2000))
    assert("PartitionFilters: \\[[^\\]]*o_year".r.findFirstIn(s).nonEmpty,
      "expected the o_year predicate in PartitionFilters:\n" + s.take(2000))
  }

  test("hash-split sampling and embedding preprocessing plan shuffle-free") {
    Seq(graft.ops.PipelineOps.sampleSplit,
        graft.ext.Embeddings.normalize,
        graft.ext.Embeddings.quantizeInt8).foreach { q =>
      val s = planString(q.fn(spark, sf))
      assert(!s.contains("Exchange"),
        s"${q.name} must be a pure per-row projection, found a shuffle:\n" +
          s.take(1500))
    }
  }

  test("q25: generator aggregate is two-phase with map-side combine") {
    val s = planString(Relational.q25Explode.fn(spark, sf))
    assert(s.contains("Generate"), "expected a Generate (posexplode) node")
    // partial + final aggregation around the single word-key shuffle
    assert("HashAggregate".r.findAllIn(s).size >= 2, s.take(1500))
  }

  test("z-order layout clusters both dimensions into tight per-file ranges") {
    import org.apache.spark.sql.functions._
    graft.ops.PipelineOps.zorderLayout.fn(spark, sf).collect() // write files
    val files = spark.read.parquet(Work.scratch("orders_zorder"))
      .groupBy(input_file_name().as("f"))
      .agg((max(col("x")) - min(col("x"))).as("xspan"),
        (max(col("y")) - min(col("y"))).as("yspan"),
        count(lit(1)).as("n"))
      .filter(col("n") > 10) // span is meaningless for near-empty files
      .collect()
    assert(files.length > 1, "expected multiple z-sorted files")
    val global = spark.read.parquet(Work.scratch("orders_zorder"))
      .agg(max(col("x")) - min(col("x")), max(col("y")) - min(col("y")))
      .collect().head
    val (gx, gy) = (global.getLong(0), global.getLong(1))
    def avg(xs: Seq[Long]): Double = xs.sum.toDouble / xs.length
    // a z-sorted file covers a small rectangle: average span well under
    // the global span on BOTH dims (an x-only sort would leave y wide)
    assert(avg(files.map(_.getLong(1)).toSeq) < gx * 0.7,
      s"x spans not clustered: ${files.map(_.getLong(1)).mkString(",")} vs $gx")
    assert(avg(files.map(_.getLong(2)).toSeq) < gy * 0.7,
      s"y spans not clustered: ${files.map(_.getLong(2)).mkString(",")} vs $gy")
  }

  test("full outer join plans as an equi-join, never a nested loop") {
    val s = planString(Relational.q32FullOuter.fn(spark, sf))
    assert(s.contains("FullOuter"), s.take(1500))
    assert(!s.contains("BroadcastNestedLoopJoin"),
      "full outer must hash/merge on the key:\n" + s.take(1500))
  }

  test("embedding-cosine dedup candidates are an equi-join on the bucket") {
    // the round-1 form was a BroadcastNestedLoopJoin over a<b (all
    // pairs); the bucketed form must join candidates on the LSH bucket
    // key — pin it so it cannot silently regress
    val emb = Tables(spark, sf, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding")
          .cast("array<double>").as("e"))
    val s = planString(graft.ext.Dedup.embeddingCosinePairs(emb, 0.99))
    assert(!s.contains("BroadcastNestedLoopJoin"),
      "bucketed cosine dedup must never plan a nested loop:\n" + s.take(1500))
    assert(s.contains("bucket"), s.take(1500))
  }

  test("phash pairs: candidates are an equi-join on the band key, " +
      "never a nested loop") {
    val sigs = graft.ext.Multimodal.phashBandsOf(
      graft.ext.Multimodal.phashPayloads(spark, sf))
    val s = planString(graft.ext.Multimodal.phashPairs(sigs))
    assert(!s.contains("BroadcastNestedLoopJoin") &&
      !s.contains("CartesianProduct"),
      "banded phash join must never plan all-pairs:\n" + s.take(1500))
    assert(s.contains("band"), s.take(1500))
  }

  test("range-join rewrite: hinted inequality join plans as an equi-join, " +
      "unhinted stays a nested loop") {
    import org.apache.spark.sql.functions.col
    val sp = spark
    import sp.implicits._
    val pts = (0L to 1000L).map(i => i * 7L).toDF("pt")
    val ivs = Seq((0L, 50L, 1), (40L, 200L, 2), (600L, 700L, 3))
      .toDF("lo", "hi", "id")
    def planOfJoin(): String = {
      val df = pts.join(ivs, col("pt") >= col("lo") && col("pt") < col("hi"))
      planString(df)
    }
    spark.conf.unset(graft.plans.RangeJoinRewrite.BinConf)
    val unhinted = planOfJoin()
    assert(unhinted.contains("BroadcastNestedLoopJoin") ||
      unhinted.contains("CartesianProduct"),
      "negative control: without the rule Spark has no equi key:\n" +
        unhinted.take(1200))
    withRules(graft.plans.RangeJoinRewrite) {
      try {
        spark.conf.set(graft.plans.RangeJoinRewrite.BinConf, "64")
        val hinted = planOfJoin()
        assert(!hinted.contains("BroadcastNestedLoopJoin") &&
          !hinted.contains("CartesianProduct"),
          "hinted range join must rewrite to the grid equi-join:\n" +
            hinted.take(1200))
        assert(hinted.contains("__graft_pt_cell") ||
          hinted.contains("HashJoin") || hinted.contains("SortMergeJoin"),
          hinted.take(1200))
      } finally spark.conf.unset(graft.plans.RangeJoinRewrite.BinConf)
    }
  }

  test("auto range-join (no bin conf): static span drives the bin — grid " +
      "equi-join, no nested loop, no overflow probes on the point side") {
    // round-10 punch #6: range_join_auto with the binSize knob GONE.
    // The tsu±c bounds share a base, so the span is provable at plan
    // time: the rule must take the pure-grid path (point side is a
    // plain projection; exactly ONE Generate — the interval side's
    // two-cell enumeration), not the runtime overflow classification.
    val s = withRules(graft.plans.RangeJoinRewrite)(
      planString(graft.ops.RangeJoin.rangeCountAuto.fn(spark, sf)))
    assert(!s.contains("BroadcastNestedLoopJoin") &&
      !s.contains("CartesianProduct"),
      "auto range join must rewrite to the grid equi-join:\n" + s.take(1500))
    assert(s.contains("__graft_pt_cell"), s.take(1500))
    // overflow-path fingerprint: the salted probe hashes the point —
    // the static path must not pay it (point side stays a projection)
    assert(!s.contains("pmod(hash("),
      "static-span path must not add the overflow probes:\n" + s.take(2000))
    assert(s.contains("BroadcastHashJoin") || s.contains("SortMergeJoin") ||
      s.contains("ShuffledHashJoin"), s.take(2000))
  }

  test("auto top-k rewrite: the user's row_number window plan becomes the " +
      "bounded-heap aggregate — no Window, map-side partial top-k; " +
      "unrewritten control keeps the Window") {
    // round-10 punch #1 (SURVEY §4's custom-strategy candidate): the
    // naive window form shuffles EVERY scored row to its group and
    // sorts; the rewritten plan partial-aggregates k rows per (group,
    // partition) before the exchange and never sorts a group.
    val s = withRules(graft.plans.TopKRewrite)(
      planString(graft.ext.Similarity.topkCosineAuto.fn(spark, sf)))
    assert(!s.contains("Window"),
      "rewritten plan must not contain a Window operator:\n" + s.take(2000))
    assert(s.contains("partial_row_topk"),
      "top-k must partial-aggregate map-side:\n" + s.take(2000))
    assert(s.contains("row_topk"), s.take(2000))
    // negative control: rule excluded → the Window (plus Spark's own
    // WindowGroupLimit) executes as written
    val (q, r) = graft.ext.Similarity.split(spark, sf)
    val c = planString(
      graft.ext.Similarity.bruteForceTopKWindow(q, r, 10))
    assert(c.contains("Window"), c.take(2000))
    assert(!c.contains("row_topk"), c.take(2000))
  }

  test("DSIR: the weight pass is map-only (no hash exchange, no join, " +
      "no aggregate) and the sample plans as TakeOrderedAndProject") {
    // the 4096-long ratio table is broadcast into a per-row integer
    // fold — at 100 TB the weight pass must cost exactly one corpus
    // scan (the only exchange is the bench-only scan spread)
    val s = planString(graft.ext.Dsir.dsirWeights.fn(spark, sf))
    assert(!s.contains("hashpartitioning"),
      "weight pass must not shuffle:\n" + s.take(2000))
    assert(!s.contains("Join") && !s.contains("HashAggregate"),
      "weight pass must not join/aggregate:\n" + s.take(2000))
    val t = planString(graft.ext.Dsir.dsirSample.fn(spark, sf))
    assert(t.contains("TakeOrderedAndProject"),
      "selection must be a bounded top-k, not a global sort:\n" + t.take(2000))
    // the mixture report: source rides the map pass, so the whole
    // thing is one corpus scan + ONE sources-keyed exchange — no join
    val m = planString(graft.ext.Dsir.dsirMixture.fn(spark, sf))
    assert(!m.contains("Join"),
      "mixture must not join back to the corpus:\n" + m.take(2000))
    // count within the FINAL plan only (adaptive toString appends the
    // Initial plan too, doubling every operator name)
    val mFinal = m.split("== Initial Plan ==").head
    assert("hashpartitioning".r.findAllIn(mFinal).size == 1,
      "mixture must shuffle exactly once (the source aggregate):\n" +
        mFinal.take(2000))
    assert(mFinal.contains("partial_sum"),
      "mixture aggregate must combine map-side:\n" + mFinal.take(2000))
    // the per-source quota (r14): source rides the map-only weight
    // pass (no join), and under the rewrite the row_number window
    // becomes the bounded per-group heap — ≤ sources×k rows per
    // partition into one exchange, never a corpus sort
    val qstr = withRules(graft.plans.TopKRewrite)(
      planString(graft.ext.Dsir.dsirQuota.fn(spark, sf)))
    assert(!qstr.contains("Join"),
      "quota must not join back to the corpus:\n" + qstr.take(2000))
    val qFinal = qstr.split("== Initial Plan ==").head
    assert(qFinal.contains("partial_row_topk") && !qFinal.contains("Window"),
      "quota must plan as the bounded per-group heap:\n" + qFinal.take(2000))
  }

  test("url_domain_filter: the domain verdict broadcasts onto the " +
      "corpus scan — the corpus itself never shuffles") {
    // two-pass curation shape: stats are domains-sized (millions at
    // 100 TB) vs billions of docs — the apply pass must be a broadcast
    // join over the scan, with the only exchanges inside the
    // domains-keyed stats aggregate
    val s = planString(graft.ext.UrlOps.domainFilterQ.fn(spark, sf))
    val sFinal = s.split("== Initial Plan ==").head
    assert(sFinal.contains("BroadcastHashJoin"),
      "verdict must broadcast:\n" + sFinal.take(2000))
    assert(!sFinal.contains("SortMergeJoin"),
      "corpus must not sort-merge:\n" + sFinal.take(2000))
  }

  test("shingle sets: the non-empty guard reaches the scan as a NATIVE " +
      "predicate and the shingle UDF never clones into a filter") {
    // r13 profile finding: filtering on size(shs) — the UDF output —
    // let PushDownPredicates clone the whole shingle UDF below the
    // spread exchange, running it once single-core at the scan for the
    // filter and again spread for the projection. The guard is now the
    // equivalent native word-count predicate; the UDF must appear only
    // in the post-exchange projection.
    val df = graft.ext.Dedup.shingleSets(
      graft.ext.Dedup.plantedCorpus(Tables(spark, sf, "documents")))
    val s = planString(df)
    // regexp_replace trim (tokensWs), not space-only trim — the guard
    // must count tokens exactly like the shingle UDF (r13 ADVICE)
    assert(s.contains("size(split(regexp_replace("),
      "native word-count guard missing:\n" + s.take(2000))
    assert(!s.contains("size(UDF"),
      "shingle UDF cloned into a filter:\n" + s.take(2000))
  }

  test("top-k rewrite fires through an alias-only Project between the " +
      "window and the rank filter; a computing Project keeps the Window") {
    // r12 punch #5: `.select(...)` between the window and the filter
    // builds Filter(Project(Window)). Catalyst usually pushes the
    // filter through, but the rule must handle the surviving shape
    // itself (pushdown is blocked by non-deterministic siblings, and
    // standalone callers can hand it un-normalized plans). Direct rule
    // application on the analyzed+collapsed plan pins the new matcher
    // — not whichever normalization happens to fire first.
    import org.apache.spark.sql.catalyst.optimizer.CollapseProject
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter,
      Project => LProject, Window => LWindow, LogicalPlan}
    import org.apache.spark.sql.functions.{col, row_number}
    val sp = spark
    import sp.implicits._
    val df = (0 until 40).map(i => (i % 4, (i * 7 % 11).toDouble, i.toLong))
      .toDF("g", "v", "id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("v").desc, col("id").asc)
    val ranked = df.withColumn("rank", row_number().over(w))
    def hasWindow(p: LogicalPlan) = p.exists(_.isInstanceOf[LWindow])
    // control rows with the rule excluded (plain window execution)
    val expect = ranked.filter(col("rank") <= 2)
      .select(col("g"), col("id")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    withRules(graft.plans.TopKRewrite) {
      // rename + reorder + drop: rnk aliases rank, v is dropped
      val aliased = ranked
        .select(col("rank").as("rnk"), col("id"), col("g").as("grp"))
        .filter(col("rnk") <= 2)
      val shape = CollapseProject(aliased.queryExecution.analyzed)
      shape match { // precondition: the un-pushed shape really is F(P(W))
        case LFilter(_, LProject(_, _: LWindow)) =>
        case other => fail("test shape drifted: " + other.treeString.take(800))
      }
      val rewritten = graft.plans.TopKRewrite(shape)
      assert(!hasWindow(rewritten),
        "alias-only Project must rewrite:\n" + rewritten.treeString.take(2000))
      // downstream contract: same output attributes, same exprIds
      assert(rewritten.output.map(a => (a.name, a.exprId)) ==
        shape.output.map(a => (a.name, a.exprId)))
      // negative: a COMPUTING projection of the rank must keep the
      // Window (a k-heap of rank can't answer predicates over r2 here
      // without re-deriving the expression — out of contract)
      val computing = ranked
        .select(col("g"), (col("rank") * 2).as("r2"), col("id"))
        .filter(col("r2") <= 4)
      val cshape = CollapseProject(computing.queryExecution.analyzed)
      assert(hasWindow(graft.plans.TopKRewrite(cshape)),
        "computing Project must not rewrite")
      // end-to-end: the df-API spelling stays correct under the rule
      // (whichever normalization path handles it first)
      val got = aliased.select(col("grp"), col("id")).collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet
      assert(got == expect)
    }
  }

  test("top-k rewrite negative space: a CHAINED Project between the " +
      "window and the rank filter must not match — the alias " +
      "substitution contract is exactly ONE Project deep") {
    // r13 punch #8: the matcher substitutes one Project's aliases into
    // the filter condition. Across TWO stacked Projects (or an
    // alias-of-alias) a single substitution pass no longer reaches the
    // window's attributes, so the rule must leave the plan alone and
    // let plain window execution answer — this pin keeps a future
    // refactor from silently widening the match without extending the
    // substitution to a fixpoint. (CollapseProject normally erases this
    // shape; the rule is applied to the RAW analyzed plan on purpose.)
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter,
      Project => LProject, Window => LWindow, LogicalPlan}
    import org.apache.spark.sql.functions.{col, row_number}
    val sp = spark
    import sp.implicits._
    val df = (0 until 40).map(i => (i % 4, (i * 7 % 11).toDouble, i.toLong))
      .toDF("g", "v", "id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("v").desc, col("id").asc)
    val ranked = df.withColumn("rank", row_number().over(w))
    val expect = ranked.filter(col("rank") <= 2)
      .select(col("g"), col("id")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    def hasWindow(p: LogicalPlan) = p.exists(_.isInstanceOf[LWindow])
    withRules(graft.plans.TopKRewrite) {
      val chained = ranked
        .select(col("rank").as("rnk"), col("id"), col("g"))
        .select(col("rnk"), col("id"), col("g").as("grp"))
        .filter(col("rnk") <= 2)
      val shape = chained.queryExecution.analyzed
      shape match { // precondition: at least two Projects under the Filter
        case LFilter(_, LProject(_, LProject(_, _))) =>
        case other => fail("test shape drifted: " + other.treeString.take(800))
      }
      assert(hasWindow(graft.plans.TopKRewrite(shape)),
        "chained Project must NOT rewrite:\n" +
          graft.plans.TopKRewrite(shape).treeString.take(2000))
      // and the spelling stays CORRECT end-to-end under the rule,
      // whichever normalization path (CollapseProject + one-deep match,
      // or plain window exec) handles it
      val got = chained.select(col("grp"), col("id")).collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet
      assert(got == expect)
    }
  }

  test("pagination top-k rewrite: rank BETWEEN a AND b (a > 1) becomes " +
      "the heap sized by b with the lower bound as a residual filter") {
    // r12: "results 11-20" previously blocked (the lower conjunct was a
    // rank-referencing residual); now the heap keeps the top b rows per
    // group and the page filter runs over the rebuilt rank column — the
    // exchange carries O(groups·b·partitions) rows either way.
    withRules(graft.plans.TopKRewrite) {
      val s = planString(graft.ext.Similarity.topkPagedAuto.fn(spark, sf))
      assert(!s.contains("Window"),
        "paged plan must not contain a Window operator:\n" + s.take(2000))
      assert(s.contains("partial_row_topk"),
        "paged top-k must partial-aggregate map-side:\n" + s.take(2000))
      // the lower bound survives as a Filter over the rebuilt rank
      assert(s.contains("Filter"), s.take(2000))
      // page contents: every rank in [K+1, 2K], exactly K rows per qid
      // present in full pages (queries have >= 2K refs at sf0.001)
      val rows = graft.ext.Similarity.topkPagedAuto.fn(spark, sf)
        .collect()
      val ks = rows.map(_.getAs[Int]("rank"))
      assert(ks.nonEmpty && ks.forall(r =>
        r >= graft.ext.Similarity.K + 1 && r <= 2 * graft.ext.Similarity.K),
        s"ranks out of page: ${ks.distinct.sorted.mkString(",")}")
    }
  }

  test("rank-family top-k rewrite: rank()/dense_rank() bounds become the " +
      "tie-keeping aggregate — no Window; row counts prove ties kept") {
    // r11 punch #1: the rank spelling of top-k-per-group previously
    // executed as the full window (Spark's InferWindowGroupLimit bounds
    // the sort but every scored row still crosses the exchange)
    val (sRank, sDense) = withRules(graft.plans.TopKRewrite)((
      planString(graft.ops.Relational.topkRankAuto.fn(spark, sf)),
      planString(graft.ops.Relational.topkDenseRankAuto.fn(spark, sf))))
    assert(!sRank.contains("Window"),
      "rank() bound must rewrite away the Window:\n" + sRank.take(2000))
    assert(sRank.contains("partial_rank_topk"),
      "rank top-k must partial-aggregate map-side:\n" + sRank.take(2000))
    assert(!sDense.contains("Window"), sDense.take(2000))
    assert(sDense.contains("dense_rank_topk"), sDense.take(2000))
    // tie semantics visible in cardinality: with integer quantities,
    // rank() <= 2 keeps MORE rows than row_number() <= 2 (boundary tie
    // groups survive whole) and dense_rank() <= 2 at least as many as
    // rank() on this data (two full quantity levels per order)
    import org.apache.spark.sql.functions.{col, row_number}
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_orderkey")
      .orderBy(col("l_quantity").desc)
    val rowNum2 = Tables(spark, sf, "lineitem")
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .count()
    val (rank2, dense2) = withRules(graft.plans.TopKRewrite)((
      graft.ops.Relational.topkRankAuto.fn(spark, sf).count(),
      graft.ops.Relational.topkDenseRankAuto.fn(spark, sf).count()))
    assert(rank2 > rowNum2,
      s"ties must survive the rank bound: rank2=$rank2 rowNum2=$rowNum2")
    assert(dense2 >= rank2, s"dense2=$dense2 rank2=$rank2")
  }

  test("auto top-k rewrite fires on the SQL text form, including a " +
      "complex partition expression") {
    // the engine claim: a user writing plain SQL top-k-per-group gets
    // the bounded-heap plan too — and PARTITION BY an expression (not a
    // column) groups correctly through the Aggregate
    val sp = spark
    import sp.implicits._
    (0 until 200).map(i => (i % 10, (i * 7) % 23, i.toLong))
      .toDF("g", "v", "id").createOrReplaceTempView("tkv_plan")
    val sql = """SELECT * FROM (
        SELECT g, v, id, row_number() OVER (
          PARTITION BY g % 3 ORDER BY v DESC, id) AS rn FROM tkv_plan)
      WHERE rn <= 2"""
    def got() = spark.sql(sql).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    val control = got()
    withRules(graft.plans.TopKRewrite) {
      val s = planString(spark.sql(sql))
      assert(s.contains("row_topk") && !s.contains("Window"),
        "SQL-form top-k must rewrite:\n" + s.take(1500))
      assert(got() == control)
      assert(control.map(_._4).max == 2 && control.nonEmpty)
    }
  }

  test("dist_drift_ks: per-value counts combine map-side before the " +
      "domain-sized running-sum window; totals join broadcast") {
    // the KS gate's scale discipline: the corpus collapses to distinct
    // token-count rows FIRST (two-phase aggregate), so the single
    // global-order window runs over the value DOMAIN, never the docs
    val s = planString(graft.ops.Quality.ksDrift.fn(spark, sf))
    assert(s.contains("partial_sum"),
      "per-value counts must partial-aggregate map-side:\n" + s.take(2000))
    assert(s.contains("Window"), s.take(2000))
    assert(s.contains("BroadcastExchange") ||
      s.contains("BroadcastNestedLoopJoin"),
      "one-row totals must broadcast:\n" + s.take(2000))
    // and the result is a single row with a sane ppm
    val row = graft.ops.Quality.ksDrift.fn(spark, sf).collect()
    assert(row.length == 1)
    val ks = row(0).getLong(2)
    assert(ks >= 0L && ks <= 1000000L, s"ks_ppm out of range: $ks")
  }

  test("range-join auto-bin sample memoizes per plan shape: " +
      "re-optimizing the same query launches no new sample job " +
      "(r11 advice #1)") {
    import org.apache.spark.sql.functions.col
    graft.plans.RangeJoinRewrite.clearSampleCache()
    val sp = spark
    import sp.implicits._
    // data-dependent bounds (plain LocalRelation attributes, no shared
    // base expression) force the SAMPLED bin path
    val pts = (0L to 500L).map(i => i * 3L).toDF("pt")
    val ivs = (0L until 50L).map(i => (i * 30L, i * 30L + 25L, i))
      .toDF("lo", "hi", "id")
    def q() = pts.join(ivs,
      col("pt") >= col("lo") && col("pt") < col("hi"))
    try withRules(graft.plans.RangeJoinRewrite) {
      val df1 = q()
      df1.queryExecution.optimizedPlan
      // the fixed-point optimizer batch visits the matching join
      // several times per optimization; the memo must hold exactly ONE
      // entry for the shape, not one per iteration
      assert(graft.plans.RangeJoinRewrite.sampleCacheSize == 1,
        s"expected 1 memoized sample, got ${graft.plans.RangeJoinRewrite.sampleCacheSize}")
      // a fresh instantiation of the SAME query canonicalizes to the
      // same key: still one entry, no second sample job
      q().queryExecution.optimizedPlan
      assert(graft.plans.RangeJoinRewrite.sampleCacheSize == 1)
      // the sampled bin actually drove the rewrite, and results are
      // exact: 9 multiples of 3 inside each of the 50 [i*30, i*30+25)
      val s1 = planString(df1)
      assert(!s1.contains("BroadcastNestedLoopJoin") &&
        !s1.contains("CartesianProduct"),
        "sampled-bin path must rewrite to the grid equi-join:\n" +
          s1.take(1200))
      assert(df1.count() == 450L)
    } finally graft.plans.RangeJoinRewrite.clearSampleCache()
  }

  test("rank-family rewrite fires on the SQL text form and keeps SQL " +
      "tie semantics") {
    // the user-facing claim: plain SQL "top 2 per group WITH TIES"
    // (rank() <= 2) gets the tie-keeping aggregate plan too
    val sp = spark
    import sp.implicits._
    (0 until 300).map(i => (i % 10, (i * 7) % 5, i.toLong))
      .toDF("g", "v", "id").createOrReplaceTempView("rkv_plan")
    val sql = """SELECT * FROM (
        SELECT g, v, id, rank() OVER (
          PARTITION BY g ORDER BY v DESC) AS rnk FROM rkv_plan)
      WHERE rnk <= 2"""
    def got() = spark.sql(sql).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    val control = got()
    withRules(graft.plans.TopKRewrite) {
      val pstr = planString(spark.sql(sql))
      assert(pstr.contains("rank_topk") && !pstr.contains("Window"),
        "SQL-form rank top-k must rewrite:\n" + pstr.take(1500))
      assert(got() == control)
      // a 5-value domain over 30 rows/group ties constantly: every
      // boundary tie group must survive whole (> 2 rows per group)
      assert(control.groupBy(_._1).values.forall(_.size > 2))
    }
  }

  test("top-k rewrite: BETWEEN 1 AND k rewrites (trivial lower bound " +
      "dropped); BETWEEN 2 AND 4 pagination rewrites with a residual") {
    val sp = spark
    import sp.implicits._
    (0 until 200).map(i => (i % 8, (i * 11) % 31, i.toLong))
      .toDF("g", "v", "id").createOrReplaceTempView("btw_plan")
    def sql(pred: String) = s"""SELECT * FROM (
        SELECT g, v, id, row_number() OVER (
          PARTITION BY g ORDER BY v DESC, id) AS rn FROM btw_plan)
      WHERE $pred"""
    def rows(pred: String) = spark.sql(sql(pred)).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    val control = rows("rn BETWEEN 1 AND 3")
    val pagiControl = rows("rn BETWEEN 2 AND 4")
    val eqControl = rows("rn = 3")
    withRules(graft.plans.TopKRewrite) {
      val pTop = planString(spark.sql(sql("rn BETWEEN 1 AND 3")))
      assert(pTop.contains("row_topk") && !pTop.contains("Window"),
        "BETWEEN 1 AND k must rewrite:\n" + pTop.take(1500))
      assert(rows("rn BETWEEN 1 AND 3") == control)
      // r12: a genuine pagination lower bound rewrites too — the heap
      // is sized by the UPPER bound (4 rows per group) and "skip rank 1"
      // survives as a residual filter over the rebuilt rank column
      val pPagi = planString(spark.sql(sql("rn BETWEEN 2 AND 4")))
      assert(pPagi.contains("row_topk") && !pPagi.contains("Window"),
        "pagination must rewrite via the upper bound:\n" + pPagi.take(1500))
      assert(rows("rn BETWEEN 2 AND 4") == pagiControl)
      // `rn = n` (n > 1): bounds the heap at n, equality stays residual
      val pEq = planString(spark.sql(sql("rn = 3")))
      assert(pEq.contains("row_topk") && !pEq.contains("Window"),
        "rank-equality must rewrite via the bound:\n" + pEq.take(1500))
      assert(rows("rn = 3") == eqControl)
    }
  }

  test("GraftExtensions (the spark.sql.extensions cluster path) injects " +
      "both whole-plan rules and every SQL function") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val rules = org.apache.spark.sql.graftbridge.ExtensionsBridge
      .optimizerRules(ext, spark)
    assert(rules.contains(graft.plans.RangeJoinRewrite), rules.toString)
    assert(rules.contains(graft.plans.TopKRewrite), rules.toString)
    // the injected rules rewrite with no conf set: applied to the
    // rules-excluded optimized plans of the two user-spelled shapes,
    // they remove the Window and give the join its grid cell key
    val (topk, join) = userSpelledRewriteShapes()
    def applied(df: DataFrame) =
      rules.foldLeft(df.queryExecution.optimizedPlan)((p, r) => r(p))
    assert(!applied(topk).exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Window]),
      applied(topk).treeString.take(1500))
    assert(applied(join).toString.contains("__graft_pt_cell"),
      applied(join).treeString.take(1500))
    // their ruleNames are the names the docs give for the kill switch
    val killSwitch = "graft.plans.TopKRewrite,graft.plans.RangeJoinRewrite"
    assert(rules.map(_.ruleName).toSet == killSwitch.split(",").toSet)
    val readme = {
      val src = scala.io.Source.fromFile("README.md", "UTF-8")
      try src.mkString finally src.close()
    }
    assert(readme.contains(s"spark.sql.optimizer.excludedRules=$killSwitch"))
    val reg = org.apache.spark.sql.graftbridge.ExtensionsBridge
      .registerFunctions(ext,
        new org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry)
    GraftFunctions.all.foreach { case (ident, _, _) =>
      assert(reg.functionExists(ident), s"missing SQL function: $ident")
    }
  }

  test("build_vocab: bounded top-N plans as TakeOrderedAndProject") {
    val s = planString(graft.ext.Corpus.buildVocab.fn(spark, sf))
    assert(s.contains("TakeOrderedAndProject"),
      "vocab top-N must use per-partition heaps, not a global sort:\n" +
        s.take(2000))
    assert("HashAggregate".r.findAllIn(s).length >= 2,
      "token counting must partial-aggregate map-side:\n" + s.take(2000))
  }

  test("q35 merge: the upsert join is an equi-join, never a nested loop") {
    val s = planString(Relational.q35MergeUpsert.fn(spark, sf))
    assert(!s.contains("BroadcastNestedLoopJoin"),
      "MERGE must join on the key:\n" + s.take(1500))
    assert(s.contains("FullOuter"), s.take(1500))
  }

  test("metrics listener profiles scans and shuffles of a completed action") {
    val gm = graft.ops.GraftMetrics.install(spark)
    try {
      val n = Tables(spark, sf, "orders")
        .groupBy("o_orderpriority").count().collect().length
      assert(n > 0)
      // listener callbacks are async; poll until the bus delivers
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (gm.snapshot.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(100)
      val metrics = gm.snapshot.filter(!_.failed)
      assert(metrics.nonEmpty, "no metrics captured")
      val last = metrics.last
      assert(last.scanRows > 0, s"scanRows=${last.scanRows}")
      assert(last.shuffleBytes > 0, s"shuffleBytes=${last.shuffleBytes}")
    } finally graft.ops.GraftMetrics.uninstall(spark, gm)
  }

  test("ObservedGate: observe-metrics match independent aggregates and " +
      "add no extra job to the action") {
    // Dataset.observe computes named aggregates INSIDE the action's own
    // pass — the zero-extra-scan writer-counters contract; a separate
    // count() would be a second data-sized job at scale
    import org.apache.spark.sql.functions.{count, lit, sum}
    val df = Tables(spark, sf, "orders")
      .select(graft.ops.Relational.cents(
        org.apache.spark.sql.functions.col("o_totalprice")).as("cents"))
    val counter = graft.ops.JobCounter.install(spark)
    try {
      val before = {
        // baseline: the same action un-observed
        df.write.format("noop").mode("overwrite").save()
        counter.snapshot().jobs
      }
      val got = graft.ops.ObservedGate.run(df, "gate",
        Seq(count(lit(1)).as("rows"), sum("cents").as("total_cents"))) {
        observed => observed.write.format("noop").mode("overwrite").save()
      }
      val observedJobs = counter.snapshot().jobs - before
      assert(observedJobs <= 2, // the noop write's own job(s), no extra scan
        s"observe must not add a data pass: $observedJobs jobs")
      val wantRows = df.count()
      val wantSum = df.agg(sum("cents")).head().getLong(0)
      assert(got("rows") == wantRows, s"got=$got want rows=$wantRows")
      assert(got("total_cents") == wantSum, s"got=$got want=$wantSum")
    } finally graft.ops.JobCounter.uninstall(spark, counter)
  }

  test("JobCounter: a snapshot delta is the action's jobs and the sum " +
      "over their planned stages; idle reads zero; uninstall stops it") {
    val counter = graft.ops.JobCounter.install(spark)
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.scheduler.SparkListenerJobStart]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        starts.add(j): Unit
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val idle0 = counter.snapshot()
      assert(counter.snapshot() - idle0 == graft.ops.JobCounts(0, 0, 0))
      // a shuffle makes the job multi-stage, so stages and tasks differ
      // from the job count
      val c0 = counter.snapshot()
      Tables(spark, sf, "orders").repartition(3,
          org.apache.spark.sql.functions.col("o_custkey"))
        .groupBy("o_custkey").count()
        .write.format("noop").mode("overwrite").save()
      val d = counter.snapshot() - c0
      val js = starts.toArray(
        Array.empty[org.apache.spark.scheduler.SparkListenerJobStart]).toSeq
      assert(js.nonEmpty && d.stages > d.jobs, s"$d")
      assert(d == graft.ops.JobCounts(js.size,
        js.map(_.stageInfos.size).sum,
        js.flatMap(_.stageInfos).map(_.numTasks).sum), s"$d vs $js")
      assert(counter.callSites().values.sum == counter.snapshot().jobs)
      graft.ops.JobCounter.uninstall(spark, counter)
      val u0 = counter.snapshot()
      spark.range(10).write.format("noop").mode("overwrite").save()
      assert(counter.snapshot() == u0)
    } finally {
      spark.sparkContext.removeSparkListener(l)
      graft.ops.JobCounter.uninstall(spark, counter)
    }
  }

  test("Profile: one relational key's call-site histogram totals its " +
      "job count and the report brackets the executed plan") {
    val counter = graft.ops.JobCounter.install(spark)
    try {
      val r = Profile.run(spark, sf, counter, "q1_agg")
      assert(r.counts.jobs > 0 && r.sites.values.sum == r.counts.jobs,
        s"${r.counts} vs ${r.sites}")
      val rep = r.report
      assert(rep.contains("===PLAN BEGIN q1_agg===") &&
        rep.contains("===PLAN END q1_agg==="), rep)
      // the AQE-final plan of the timed write, not the unexecuted one
      assert(rep.contains("isFinalPlan=true"), rep)
      // a key whose function ends in Work.materialize prints its eager
      // builds' plans too, not only the timed parquet re-scan
      val pub = Profile.run(spark, sf, counter, "dedup_incremental_pub")
      assert(pub.plans.size >= 2 && pub.plans.exists(_.contains("Exchange")),
        pub.report)
      assert(pub.report.contains("===BUILD PLAN dedup_incremental_pub 1/") &&
        pub.report.contains("===PLAN END dedup_incremental_pub==="),
        pub.report)
    } finally {
      graft.ops.JobCounter.uninstall(spark, counter)
      // Profile applies the harness conf policy (rewrites on); restore
      // the suite's rules-excluded posture for the tests that follow
      SparkSpec.excludeGraftRules(spark)
    }
  }

  test("native expressions stay inside whole-stage codegen spans") {
    val df = Tables(spark, sf, "embeddings")
      .selectExpr("CAST(embedding AS array<double>) AS e")
      .select(graft.ext.Dedup.cosine(
        org.apache.spark.sql.functions.col("e"),
        org.apache.spark.sql.functions.col("e")).as("c"))
      .filter("c > 0.5")
    val s = planString(df)
    assert(s.contains("*(1)"), "expected a WholeStageCodegen span:\n" + s.take(1000))
  }

  test("JL ANN: no Window, both stages heap-aggregated, queries broadcast") {
    val s = planString(
      graft.ext.Similarity.annRandomProjection.fn(spark, sf))
    // ranking happens in the bounded-heap aggregate on both stages —
    // a Window would sort the full |Q|×|R| (stage 1) or |Q|×C (stage
    // 2) score set instead of keeping C (resp. k) entries per partial
    assert(!s.contains("Window"), "JL ANN must not plan a Window:\n" + s.take(1500))
    // the reference scan streams; queries/candidates ride broadcasts
    assert(s.contains("BroadcastExchange"), s.take(1500))
    // projection is map work fused into codegen, never a shuffle of
    // its own: the only Exchanges are the two qid aggregations and
    // broadcasts
    val shuffles = "Exchange (hashpartitioning|SinglePartition)".r
      .findAllIn(s).size
    assert(shuffles <= 2, s"expected <= 2 hash shuffles, got $shuffles:\n" +
      s.take(1500))
  }

  test("IVF-PQ: probe restriction is a broadcast hash join, no data-scale Window") {
    val s = planString(graft.ext.Embeddings.ivfPqTopK.fn(spark, sf))
    // the only Window nodes allowed are the UNpartitioned codebook
    // ranks over the 16-row LIMIT side (plan text: 2 bracket groups);
    // a PARTITIONED window (3 groups — e.g. per-rid assignment rank or
    // per-qid scoring rank) would mean scored rows are being sorted at
    // data scale, the exact shape the native argmins exist to avoid
    val partitioned = """Window \[[^\]]*\], \[[^\]]*\], \[""".r
    assert(partitioned.findFirstIn(s).isEmpty,
      "IVF-PQ must not plan a partitioned Window:\n" + s.take(2000))
    // the cell-candidate restriction joins streamed encoded refs to the
    // broadcast (query × probe) side by cid — an equi hash join, never
    // a nested loop over scored rows
    assert(s.contains("BroadcastHashJoin"), s.take(2000))
    // assignment/encode/probe are map work over one-row broadcasts; the
    // only wide exchange is the final per-query top-k aggregation (the
    // plan string carries AQE's initial AND final sections, so the one
    // shuffle can print twice)
    val shuffles = "Exchange hashpartitioning\\(qid".r.findAllIn(s).size
    assert(shuffles <= 2, s"expected only the qid agg shuffle, got:\n" +
      s.take(2000))
    assert(!"Exchange hashpartitioning\\((rid|cid)".r.findAllIn(s).hasNext,
      "no reference-side wide shuffle allowed:\n" + s.take(2000))
  }

  test("heavy_hitters: MG summary is object-hash aggregated, recount joins broadcast") {
    val s = planString(graft.ext.Corpus.heavyHitters.fn(spark, sf))
      .split("== Initial Plan ==").head
    // the TypedImperativeAggregate runs partial+final as object hash
    // aggregates — ≤ m counters per partition is the whole point
    assert(s.contains("ObjectHashAggregate"), s.take(2000))
    assert(s.contains("misra_gries"), "MG aggregate missing:\n" + s.take(2000))
    // the exact recount touches only the ≤ m broadcast candidates —
    // never a sort-merge join against the corpus
    assert(s.contains("BroadcastHashJoin"), s.take(2000))
    assert(!s.contains("SortMergeJoin"),
      "candidate recount must not sort-merge:\n" + s.take(2000))
  }

  test("bm25_topk: one query-side Window only, heap top-k, no cartesian scoring") {
    val s = planString(graft.ext.Retrieval.bm25TopKQuery.fn(spark, sf))
      .split("== Initial Plan ==").head
    // exactly ONE Window — the salient-term rank over the query docs
    // (|Q|·vocab rows); the data-scale top-k must stay heap-aggregated
    val windows = "Window \\[".r.findAllIn(s).size
    assert(windows == 1, s"expected 1 Window node, found $windows")
    assert(s.contains("topk_smallest"),
      "bounded-heap top-k missing:\n" + s.take(2000))
    // scoring rides the inverted-index equi-join on term; no
    // nested-loop anywhere (avgdl is inline arithmetic on the idf row)
    assert(!s.contains("CartesianProduct"), s.take(2000))
    assert(!s.contains("BroadcastNestedLoopJoin"), s.take(2000))
    // postings are PER-ROW (term_counts): the only hash exchanges are
    // the query-side window, the (qid, did) candidate sum, and the
    // per-qid heap — a (did, term) postings shuffle or a dl-join
    // shuffle would show as a fourth
    val shuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(shuffles == 3,
      s"expected qid-window + (qid,did)-sum + qid-heap shuffles only, " +
        s"got $shuffles:\n" + s.take(3000))
    assert(s.contains("term_counts"),
      "per-row postings fold missing:\n" + s.take(2000))
    // vocab-sized broadcasts only: idf into each of the two term joins
    // (column pruning projects them differently, so the exchanges
    // cannot canonically match for reuse) and the qterms candidate set
    assert("BroadcastExchange".r.findAllIn(s).size <= 3,
      "unexpected extra broadcast:\n" + s.take(3000))
  }

  test("pagerank: equi-joins only, no data-scale window or cartesian") {
    val s = planString(graft.ops.PageRank.pagerankQuery.fn(spark, sf))
    assert(!s.contains("CartesianProduct"), s.take(2000))
    assert(!s.contains("BroadcastNestedLoopJoin"), s.take(2000))
    assert(!s.contains("Window ["), "no window belongs in pagerank:\n" +
      s.take(2000))
    // the materialized node-sized result is a plain parquet scan — the
    // round loop's lineage must not leak into the returned plan
    assert(s.contains("FileScan parquet"), s.take(2000))
  }

  test("contamination_score: train side reaches the probe as a semi-join") {
    val s = planString(graft.ext.Dedup.contamScore.fn(spark, sf))
      .split("== Initial Plan ==").head
    // the train corpus must enter as LeftSemi (ids never widen the
    // probe) and never via sort-merge on this bounded candidate set
    assert(s.contains("LeftSemi"), "semi-join missing:\n" + s.take(2000))
    assert(!s.contains("CartesianProduct"), s.take(2000))
  }

  test("tukey outliers: fences broadcast, flagging never sort-merges") {
    val s = planString(graft.streaming.StreamOps.windowOutliers.fn(spark, sf))
      .split("== Initial Plan ==").head
    // the #windows-sized fence frame joins broadcast; the raw scan is
    // filtered map-side
    assert(s.contains("BroadcastHashJoin"), s.take(2000))
    assert(!s.contains("SortMergeJoin"),
      "fence join must not sort-merge the raw scan:\n" + s.take(2000))
  }

  test("q40_gap_fill: one shuffle, one running-frame window") {
    val s = planString(Relational.q40GapFill.fn(spark, sf))
      .split("== Initial Plan ==").head
    val windows = "Window \\[".r.findAllIn(s).size
    assert(windows == 1, s"expected 1 Window node, found $windows")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(shuffles == 1,
      s"expected the single user_id shuffle, got $shuffles:\n" + s.take(2000))
  }

  test("count_min: grid builds as a two-phase object-hash aggregate, " +
      "probe side joins the one-row sketch broadcast") {
    val s = planString(graft.ops.Sketches.freqCountMin.fn(spark, sf))
      .split("== Initial Plan ==").head
    // TypedImperativeAggregate → ObjectHashAggregate, partial+final:
    // the d×w buffer combines map-side, the shuffle carries buffers
    assert(s.contains("ObjectHashAggregate"), s.take(2000))
    assert(!s.contains("SortAggregate"),
      "CM buffers must not fall back to sort aggregation:\n" + s.take(2000))
    // the sketch reaches every probe without a data-scale shuffle
    assert(s.contains("BroadcastNestedLoopJoin") ||
      s.contains("BroadcastExchange"), s.take(2000))
    assert(!s.contains("CartesianProduct"), s.take(2000))
  }

  test("graph_triangles: equi-joins only, no cartesian, no window") {
    val s = planString(graft.ops.Triangles.trianglesQuery.fn(spark, sf))
      .split("== Initial Plan ==").head
    assert(!s.contains("CartesianProduct"), s.take(2000))
    assert(!s.contains("BroadcastNestedLoopJoin"),
      "wedge/closing joins must stay equi:\n" + s.take(2000))
    assert(!s.contains("Window ["), s.take(2000))
  }

  test("scd2/rolling/attribution: exactly one user_id shuffle feeds the windows") {
    for ((name, df) <- Seq(
        "q41" -> Relational.q41Scd2.fn(spark, sf),
        "q42" -> Relational.q42RollingWindow.fn(spark, sf),
        "attribution" -> graft.ops.Funnel.attributionQuery.fn(spark, sf))) {
      val s = planString(df).split("== Initial Plan ==").head
      val shuffles = "Exchange hashpartitioning".r.findAllIn(s).size
      assert(shuffles == 1,
        s"$name: expected 1 shuffle, got $shuffles:\n" + s.take(2000))
      assert(!s.contains("CartesianProduct"), s"$name:\n" + s.take(2000))
    }
  }

  test("boilerplate removal: line-df join is an equi-join, rebuild is " +
      "one doc-keyed aggregate") {
    val s = planString(graft.ext.TextAnalysis.boilerplate.fn(spark, sf))
      .split("== Initial Plan ==").head
    assert(!s.contains("CartesianProduct"), s.take(2000))
    // the only nested-loop join allowed is the one-row ndocs broadcast
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(s).size
    assert(bnlj <= 1, s"unexpected nested-loop joins ($bnlj):\n" + s.take(2000))
    assert(!s.contains("Window ["),
      "doc rebuild must aggregate, not window-sort:\n" + s.take(2000))
  }

  test("harness conf policy: after applyQueryConfPolicy binSize and " +
      "excludedRules are unset and both rules fire") {
    val excluded = org.apache.spark.sql.internal.SQLConf
      .OPTIMIZER_EXCLUDED_RULES.key
    try {
      // simulate a key leaving a forced bin behind, in the suite's
      // rules-excluded posture
      spark.conf.set(graft.plans.RangeJoinRewrite.BinConf, "7")
      GraftSession.applyQueryConfPolicy(spark)
      assert(spark.conf.getOption(graft.plans.RangeJoinRewrite.BinConf)
        .isEmpty)
      assert(spark.conf.getOption(excluded).isEmpty)
      // rules-on (the SOAK_r14-adjudicated deployment posture): the
      // user-spelled top-k window and inequality join both rewrite
      val (topk, join) = userSpelledRewriteShapes()
      assertRewritten(planString(topk), planString(join))
    } finally SparkSpec.excludeGraftRules(spark)
  }

  /** A user-spelled `row_number() <= k` window and a plain inequality
    * join — the two shapes the whole-plan rewrites exist for. */
  private def userSpelledRewriteShapes(): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, row_number}
    val sp = spark
    import sp.implicits._
    val df = (0 until 60).map(i => (i % 5, (i * 7) % 13, i.toLong))
      .toDF("g", "v", "id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("v").desc, col("id"))
    val topk = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
    val pts = (0L to 300L).map(i => i * 7L).toDF("pt")
    val ivs = Seq((0L, 50L, 1), (40L, 200L, 2), (600L, 700L, 3))
      .toDF("lo", "hi", "id")
    (topk, pts.join(ivs, col("pt") >= col("lo") && col("pt") < col("hi")))
  }

  private def assertRewritten(topk: String, join: String): Unit = {
    assert(!topk.contains("Window") && topk.contains("row_topk"),
      "top-k window must rewrite:\n" + topk.take(1500))
    assert(!join.contains("BroadcastNestedLoopJoin") &&
      !join.contains("CartesianProduct"),
      "inequality join must rewrite:\n" + join.take(1500))
  }

  test("always-on rewrites: registered rules rewrite with no graft conf " +
      "set; listing them in excludedRules removes them from the " +
      "optimizer and both plans keep their Window and nested loop") {
    val names = SparkSpec.graftRules.map(_.ruleName)
    def batchRuleNames(): Seq[String] = {
      // Batch is a protected inner class of RuleExecutor: read its
      // rules through the case-class accessor reflectively
      val batches = spark.sessionState.optimizer.batches
      batches.flatMap { b =>
        b.getClass.getMethod("rules").invoke(b)
          .asInstanceOf[Seq[org.apache.spark.sql.catalyst.rules.Rule[_]]]
          .map(_.ruleName)
      }
    }
    withRules(SparkSpec.graftRules: _*) {
      val (topk, join) = userSpelledRewriteShapes()
      assert(spark.conf.getAll.keys.forall(!_.startsWith("spark.graft.")),
        spark.conf.getAll.keys.filter(_.startsWith("spark.graft.")))
      assert(names.forall(batchRuleNames().contains), batchRuleNames())
      assertRewritten(planString(topk), planString(join))
    }
    // the suite posture lists both names in excludedRules
    assert(!names.exists(batchRuleNames().contains),
      batchRuleNames())
    val (topk, join) = userSpelledRewriteShapes()
    val t = planString(topk)
    val j = planString(join)
    assert(t.contains("Window") && !t.contains("row_topk"), t.take(1500))
    assert(j.contains("BroadcastNestedLoopJoin") ||
      j.contains("CartesianProduct"), j.take(1500))
  }

  test("bounded global windows: exactly the four documented " +
      "unpartitioned-window sites, no growth (r15 verdict #7)") {
    // The harness mains mute WindowExec's single-partition WARN
    // (GraftSession.muteBenignGlobalWindowWarn), so THIS pin is the
    // regression guard the log line used to be: each witness key's
    // optimized plan must contain exactly its documented number of
    // partition-free Window nodes — every one over a value-domain- or
    // k-bounded frame (KS cumulative over distinct statistic values,
    // quantizer ranking over k centroids, PQ codebook over PqK rows,
    // tercile cumulative over distinct fluency values). A NEW
    // unpartitioned window — which at corpus scale means one executor
    // sorting the world — fails this count instead of scrolling past
    // in a muted log.
    // identify each global window by its ORDER column: the documented
    // bounded frames order on a value-domain/k-bounded key (a count is
    // too brittle — shared subtrees duplicate Window nodes in the
    // logical tree), so any NEW unpartitioned window orders on
    // something else and fails the subset check
    def globalWindowOrderCols(df: org.apache.spark.sql.DataFrame)
        : Set[String] =
      df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty =>
          w.orderSpec.flatMap(_.references.map(_.name)).toSet
      }.flatten.toSet
    val expected = Seq(
      ("dist_drift_ks", graft.ops.Quality.ksDrift,
        Set("v")), // distinct metric values
      ("dedup_semantic_hier", graft.ext.Dedup.semanticHier,
        Set("cid")), // k quantizer centroids
      ("topk_pq_adc", graft.ext.Embeddings.pqTopK,
        Set("rid")), // PqK codebook rows
      ("corpus_ccnet_buckets", graft.ext.Corpus.ccnetBuckets,
        Set("fluency_milli"))) // distinct statistic values
    expected.foreach { case (name, q, allowed) =>
      val got = globalWindowOrderCols(q.fn(spark, sf))
      assert(got.nonEmpty, s"$name must still plan its bounded global window")
      assert(got.subsetOf(allowed),
        s"$name grew an UNDOCUMENTED unpartitioned window ordering on " +
          s"${got -- allowed} — at corpus scale that is one executor " +
          "sorting the world; bound it or partition it")
    }
  }
}
