package graft

import graft.ext.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-stress dev tool: replicate the corpus N× with per-replica
  * salting that keeps replicas DISSIMILAR (disjoint shingle vocabularies
  * / rotated embeddings), then run the flagship LLM-pipeline operators
  * at 1× and N× and print both wall times. The point is the GROWTH
  * CURVE, not the absolute numbers: a bucketed/inverted-index shape
  * grows ~linearly in corpus size, an accidentally-quadratic one
  * explodes — this catches the cliff the small-SF correctness runs
  * can't see (same check the round-1 verdict ran manually against the
  * all-pairs cosine join).
  *
  * Salting matters: naive replication makes every doc an exact dup of
  * its N-1 copies, which inflates the PAIR OUTPUT quadratically in N
  * regardless of engine shape — that would measure the data, not the
  * plan. Suffixing every word with the replica id keeps per-replica
  * planted structure intact while making cross-replica Jaccard 0;
  * rotating embeddings by the replica index does the same for cosine.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_STRESS_MULT=8 \
  *   sbt -batch "runMain graft.StressMain"
  */
object StressMain {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_STRESS_MULT", "8").toInt
    val spark = GraftSession.get(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    GraftSession.muteBenignGlobalWindowWarn()

    // job counter: growth rows report (rows, jobs, wall) — a jobs
    // blowup with flat wall is the local[32] tell of a plan that
    // re-executes at cluster scale (round-7 verdict #4)
    val counter = graft.ops.JobCounter.install(spark)
    def t(name: String)(body: => Long): Double = {
      val j0 = counter.snapshot().jobs
      val t0 = System.nanoTime()
      val n = body
      val sec = (System.nanoTime() - t0) / 1e9
      val jobs = counter.snapshot().jobs - j0
      println(f"[stress] $name%-34s $sec%8.2f s  rows=$n jobs=$jobs")
      sec
    }

    // replica r: every word suffixed with "~r" (disjoint shingle space
    // across replicas), ids offset into disjoint ranges
    def repDocs(docs: DataFrame, n: Int): DataFrame =
      (0 until n).map { r =>
        docs.select(
          (col("doc_id") + lit(r * 100000000L)).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit(s"~$r"))), " ").as("text"))
      }.reduce(_ unionAll _)

    // replica r: embedding rotated by r positions (cosine between a
    // vector and a non-trivial rotation of itself is ~0 for these)
    def repEmb(emb: DataFrame, n: Int): DataFrame =
      (0 until n).map { r =>
        val rot = if (r == 0) col("e")
          else concat(slice(col("e"), r + 1, 64 - r), slice(col("e"), 1, r))
        emb.select((col("vec_id") + lit(r * 100000000L)).as("vec_id"),
          rot.as("e"))
      }.reduce(_ unionAll _)

    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))

    val only: Set[String] = sys.env.get("SPARK_GRAFT_STRESS_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty)
    val results = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    def pair(name: String)(run: DataFrame => Long, mk: Int => DataFrame): Unit = {
      if (only.nonEmpty && !only.contains(name)) return
      val base = t(s"$name 1x")(run(mk(1)))
      GraftSession.dropAllCaches(spark)
      val big = t(s"$name ${mult}x")(run(mk(mult)))
      GraftSession.dropAllCaches(spark)
      results(name) = (base, big)
    }

    pair("minhash_lsh")(
      c => Dedup.minhashDedup(Dedup.plantedCorpus(c)).count(),
      n => repDocs(docs, n))
    // r12: canonical-URL dedup — one codegen'd regexp map + one hash
    // aggregate; replica id offsets keep article ids (and so canonical
    // URLs) disjoint across replicas, so groups grow linearly and the
    // growth curve measures the plan, not colliding keys
    // r12: BM25 with per-corpus idf rebuild — growth proves the
    // shuffle-free postings + broadcast-idf plan stays linear after
    // the scan-spread change (replicas have disjoint vocabularies, so
    // posting lists don't lengthen; query count and postings both 8x)
    pair("bm25_topk")(
      c => graft.ext.Retrieval.bm25Of(
        c, graft.ext.Retrieval.idfOf(c)).count(),
      n => repDocs(docs, n))
    pair("url_dedup")(
      c => graft.ext.UrlOps.dedupGroupsOf(
        graft.ext.UrlOps.canonicalized(c)).count(),
      n => repDocs(docs, n))
    // r13: DSIR weights — map-only broadcast-array fold, the growth
    // must be flat-linear (no shuffle to super-linearize); the ratio
    // table is built ONCE from the 1x corpus so replicas measure the
    // weight pass, not ratio re-estimation
    lazy val dsirLr: Array[Long] = {
      val out = new Array[Long](graft.ext.Dsir.Buckets)
      graft.ext.Dsir.logRatioRows(docs, graft.ext.Dsir.targetOf(docs))
        .foreach { case (b, v) => out(b) = v }
      out
    }
    pair("dsir_weights")(
      c => graft.ext.Dsir.weights(c, dsirLr).count(),
      n => repDocs(docs, n))
    // r13: per-domain stats — replicas repeat the SAME 20 planted
    // hosts, so the group space stays constant while rows grow 8x:
    // the growth row measures heavy-hitter aggregation (map-side
    // combine must absorb the fan-in; domains ARE hot keys at 100 TB)
    pair("url_domain_stats")(
      c => graft.ext.UrlOps.domainStatsOf(c).count(),
      n => repDocs(docs, n))
    // r13: leakage-safe split over exact-dup groups — one groupBy(text)
    // + explode + map assignment; disjoint replica texts grow groups
    // linearly
    pair("split_leakage_safe")(
      { c =>
        val labels = c.groupBy("text")
          .agg(min(col("doc_id")).as("cluster"),
            collect_list(col("doc_id")).as("members"))
          .select(explode(col("members")).as("doc_id"), col("cluster"))
        graft.ops.PipelineOps.splitByCluster(labels).count()
      },
      n => repDocs(docs, n))
    // r13/r14: keep-best composition (active-only CC + coalesce-argmax
    // over the scored corpus — the exact QueryDef core) — the composed
    // growth must track clusters_cc's, the argmax adds one aggregate
    pair("keep_best")(
      c => Dedup.keepBestOf(Dedup.plantedCorpus(c)).count(),
      n => repDocs(docs, n))
    // r16 (r15 verdict #2): the capped-df posture measured THROUGH the
    // flagship consumer (dedup_clusters shares the identical pair-gen
    // prefix). Every 16th doc gets ONE fixed UNSALTED 4-word phrase
    // prepended — unlike everything else it is shared ACROSS replicas,
    // so that single shingle's df grows with the corpus (≈630 at 1×,
    // ≈5,000 at 8× on sf0.1) while every organic shingle stays at its
    // within-replica df (measured max 12). The uncapped index pays
    // df² candidate rows for it — pure shuffle waste, the hot-only
    // pairs fail the Jaccard verify — which is the quadratic term
    // boilerplate introduces at crawl scale; cap=256 clears every
    // organic df (lossless for real pairs, the ExtSpec pin) and drops
    // exactly the hot key. The 1×/N× ratio pair locates the crossover:
    // cap overhead (df aggregate + anti-join) vs the df² saving.
    val hotPhrase = "hotshingle0 hotshingle1 hotshingle2 hotshingle3 "
    def repDocsHot(n: Int): DataFrame =
      repDocs(docs, n).select(col("doc_id"),
        when(col("doc_id") % 16 === 0,
          concat(lit(hotPhrase), col("text"))).otherwise(col("text"))
          .as("text"))
    pair("keep_best_hot_cap0")(
      c => Dedup.keepBestOf(Dedup.plantedCorpus(c)).count(),
      repDocsHot)
    // cap value env-tunable for the crossover sweep (SCALE.md r16)
    val dfCap = sys.env.getOrElse("SPARK_GRAFT_STRESS_DFCAP", "256").toInt
    pair(s"keep_best_hot_cap$dfCap")(
      c => Dedup.keepBestOf(Dedup.plantedCorpus(c),
        shingleDfCap = dfCap).count(),
      repDocsHot)
    // r14: cross-corpus incremental dedup — candidate volume is
    // history×increment band hits (never history²); disjoint replicas
    // grow both slices n×, cross matches stay per-replica
    pair("dedup_incremental")(
      c => Dedup.incrementalPairsFused(Dedup.plantedCorpus(c),
          col("doc_id") % 100000000L < Dedup.PlantedOffset).count(),
      n => repDocs(docs, n))
    // r15: published-history incremental (a one-segment segmented
    // index) — the index publish happens OUTSIDE the timed region (it
    // is history-ingest-time work);
    // history grows n× while the increment stays FIXED, so the
    // increment-side JOB COUNT must stay flat and wall must grow far
    // sub-linearly (only the stored-table scans and the verify join
    // grow; shingling/hashing work is ∝ increment). Replicas >0 are
    // shingle-disjoint from replica 0, so the candidate set stays flat.
    if (only.isEmpty || only.contains("incremental_pub_hist")) {
      val histPred = col("doc_id") % 100000000L < Dedup.PlantedOffset
      val inc1 = Dedup.plantedCorpus(repDocs(docs, 1))
        .filter(col("doc_id") % 100000000L >= Dedup.PlantedOffset)
      def runAt(n: Int, label: String): Double = {
        // Work.scratch, not a bare Work.dir path: scr_-prefixed dirs
        // are swept by the 6h stale sweep, so a crashed run can't leak
        // the replicated index in the shared work dir (r15 review)
        val path = Work.scratch(s"histidx_$n")
        Work.clean(path)
        Dedup.publishHistorySegment(spark, path, "hist",
          Dedup.plantedCorpus(repDocs(docs, n)).filter(histPred))
        val sec = t(s"incremental_pub_hist $label")(
          Dedup.incrementalAgainstSegmentedIndex(spark, path, inc1).count())
        Work.clean(path)
        sec
      }
      val base = runAt(1, "1x")
      GraftSession.dropAllCaches(spark)
      val big = runAt(mult, s"${mult}x")
      GraftSession.dropAllCaches(spark)
      results("incremental_pub_hist") = (base, big)
    }
    // r16: the bucketed-layout twin — same contract (increment fixed,
    // history grows), stored sides pre-partitioned on their join keys.
    // Locally the stored sides broadcast below ~10 MB so the 1x row
    // matches the plain twin; the N× rows exercise the layout once the
    // stored side crosses the threshold (the 100 TB regime PlanSpec
    // pins with broadcast disabled). The bucketed index is the same
    // one-segment publish, re-laid-out by compactSegments.
    if (only.isEmpty || only.contains("incremental_pub_bucketed")) {
      val histPred = col("doc_id") % 100000000L < Dedup.PlantedOffset
      val inc1 = Dedup.plantedCorpus(repDocs(docs, 1))
        .filter(col("doc_id") % 100000000L >= Dedup.PlantedOffset)
      def runAt(n: Int, label: String): Double = {
        val path = Work.scratch(s"histidxb_$n")
        Work.clean(path)
        Dedup.publishHistorySegment(spark, path, "hist",
          Dedup.plantedCorpus(repDocs(docs, n)).filter(histPred))
        Dedup.compactSegments(spark, path, "bucketed", retire = false)
        val sec = t(s"incremental_pub_bucketed $label")(
          Dedup.incrementalAgainstSegmentedIndex(spark, path, inc1).count())
        Work.clean(path)
        sec
      }
      val base = runAt(1, "1x")
      GraftSession.dropAllCaches(spark)
      val big = runAt(mult, s"${mult}x")
      GraftSession.dropAllCaches(spark)
      results("incremental_pub_bucketed") = (base, big)
    }
    // r16: segmented daily steady state — day d's increment joins the
    // base segment plus the (d) already-folded daily segments; per-day
    // wall must stay ~flat (the increment work is fixed, the union
    // scan grows by one increment-sized segment per day). The pair
    // reports (day1, day3): a daily pipeline whose cost grew with the
    // number of folded days would be re-paying history.
    if (only.isEmpty || only.contains("incremental_seg_steady")) {
      val one = Dedup.plantedCorpus(repDocs(docs, 1))
      val histPred = col("doc_id") % 100000000L < Dedup.PlantedOffset
      def incDay(d: Int) = one.filter(!histPred &&
        col("doc_id") % 4 === d)
      val path = Work.scratch("histidxseg_steady")
      Work.clean(path)
      Dedup.publishHistorySegment(spark, path, "base", one.filter(histPred))
      val walls = (0 until 4).map { d =>
        val w = t(s"incremental_seg_steady day$d")(
          Dedup.incrementalAgainstSegmentedIndex(spark, path,
            incDay(d)).count())
        Dedup.publishHistorySegment(spark, path, s"day$d", incDay(d))
        GraftSession.dropAllCaches(spark)
        w
      }
      Work.clean(path)
      // summary pair = (day1, day3), NOT day0: day0 carries session
      // warm-up (measured 3.3 vs 1.8 s), and a baseline inflated by
      // warm-up would mask genuine per-day growth — the exact
      // regression this row exists to catch (r16 review)
      results("incremental_seg_steady") = (walls(1), walls.last)
    }
    // r17 (verdict #4): DEEP-grow the daily fold to 30 segments — the
    // 4-day steady row is too short to surface per-segment listing/
    // scan overhead or a file-count knee. History carries 31 salted
    // replicas (disjoint shingle vocabularies); day d folds replica
    // d's planted increment, so every day's batch is CONSTANT size
    // with real verify matches against its own replica, and ids stay
    // disjoint across segments (the fold contract). Per-day wall and
    // jobs must stay flat through day 29. Then (verdict #2): LSM-fold
    // everything into ONE bucketed compacted segment and re-run an
    // unfolded replica's query — file count collapses, wall/jobs must
    // not grow.
    // ONE shared fixture for the three month-long rows (deep /
    // cadence / tiered — r17 review: triplicated definitions drift):
    // 31 salted replicas, day d's batch = replica d's planted
    // increment — constant size, real verify matches against its own
    // replica, ids disjoint across segments.
    lazy val segAll = Dedup.plantedCorpus(repDocs(docs, 31))
    val segHistPred = col("doc_id") % 100000000L < Dedup.PlantedOffset
    def segDayBatch(d: Int) = segAll.filter(!segHistPred &&
      col("doc_id").divide(lit(100000000L)).cast("long") === d)
    def segFileCount(p: String): Long = {
      val (fsys, root) = Work.fs(p)
      val it = fsys.listFiles(root, true)
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      n
    }
    // the compact row RIDES the deep row (it compacts the 31 segments
    // the deep loop just built), so asking for either runs the block —
    // only=incremental_seg_compact alone would otherwise silently run
    // nothing and never set its results key (r17 ADVICE)
    if (only.isEmpty || only.contains("incremental_seg_deep") ||
        only.contains("incremental_seg_compact")) {
      val all = segAll
      val histPred = segHistPred
      def dayBatch(d: Int) = segDayBatch(d)
      val path = Work.scratch("histidxseg_deep")
      Work.clean(path)
      t("incremental_seg_deep base-ingest")(
        { Dedup.publishHistorySegment(spark, path, "base",
            all.filter(histPred)); 0L })
      GraftSession.dropAllCaches(spark)
      val walls = (0 until 30).map { d =>
        val b = dayBatch(d)
        val w = t(f"incremental_seg_deep day$d%02d")(
          Dedup.incrementalAgainstSegmentedIndex(spark, path, b).count())
        Dedup.publishHistorySegment(spark, path, f"day$d%02d", b)
        GraftSession.dropAllCaches(spark)
        w
      }
      results("incremental_seg_deep") = (walls(1), walls.last)
      val preFiles = segFileCount(path)
      // r18 (r17 verdict #5): the MANIFEST makes the reader's active-
      // set resolution O(1) metadata reads however many segments the
      // index holds — count the full listing passes the 31-segment
      // query needs (0 with a manifest; one listStatus per segment
      // per query without it)
      val lp0 = Dedup.listingPasses.get()
      val wPre = t("seg_deep query 30-seg")(
        Dedup.incrementalAgainstSegmentedIndex(spark, path,
          dayBatch(30)).count())
      println(s"[stress] seg_deep listing passes during the 31-seg " +
        s"query: ${Dedup.listingPasses.get() - lp0} (manifest-backed)")
      GraftSession.dropAllCaches(spark)
      t("seg_deep compact(31 segs)")(
        { Dedup.compactSegments(spark, path, "c0"); 0L })
      GraftSession.dropAllCaches(spark)
      val postFiles = segFileCount(path)
      val wPost = t("seg_deep query compacted")(
        Dedup.incrementalAgainstSegmentedIndex(spark, path,
          dayBatch(30)).count())
      GraftSession.dropAllCaches(spark)
      println(s"[stress] seg_deep files: pre-compaction $preFiles -> " +
        s"post $postFiles (one bucketed segment)")
      results("incremental_seg_compact") = (wPre, wPost)
      Work.clean(path)
    }
    // r17: the PRODUCTION cadence the composed layout exists for —
    // fold daily, compact WEEKLY (every 7th fold LSM-folds everything
    // active, including the previous compacted segment, into one
    // bucketed segment; the tail stays <= 7 plain segments). Per-day
    // wall/jobs must stay flat across the whole month and the index
    // file count stays bounded by the cadence instead of growing with
    // crawl age. Same salted-replica fixture as the deep row, so the
    // two adjudicate against each other: deep = never compact,
    // cadence = compact weekly.
    if (only.isEmpty || only.contains("incremental_seg_cadence")) {
      val all = segAll
      val histPred = segHistPred
      def dayBatch(d: Int) = segDayBatch(d)
      def fileCount(p: String): Long = segFileCount(p)
      val path = Work.scratch("histidxseg_cadence")
      Work.clean(path)
      t("incremental_seg_cadence base")(
        { Dedup.publishHistorySegment(spark, path, "base",
            all.filter(histPred)); 0L })
      GraftSession.dropAllCaches(spark)
      val walls = (0 until 30).map { d =>
        val b = dayBatch(d)
        val w = t(f"incremental_seg_cadence day$d%02d")(
          Dedup.incrementalAgainstSegmentedIndex(spark, path, b).count())
        Dedup.publishHistorySegment(spark, path, f"day$d%02d", b)
        if ((d + 1) % 7 == 0) {
          t(f"incremental_seg_cadence compact-w${(d + 1) / 7}")(
            { Dedup.compactSegments(spark, path, f"c${(d + 1) / 7}"); 0L })
          println(s"[stress]   files after compact: ${fileCount(path)}")
        }
        GraftSession.dropAllCaches(spark)
        w
      }
      println(s"[stress] seg_cadence files at day 29: ${fileCount(path)}" +
        " (bounded by the weekly cadence, not crawl age)")
      results("incremental_seg_cadence") = (walls(1), walls.last)
      Work.clean(path)
    }
    // r17: the TIERED cadence (classic LSM minor/major): weekly MINOR
    // compaction folds ONLY the 7-day plain tail (cost ∝ tail — the
    // full-fold cadence row's weekly cost is ∝ history), accumulating
    // one bucketed segment per week; a MAJOR compaction at day 28
    // folds everything. The row measures the tradeoff the two knobs
    // buy: minor bounds fold cost but grows reader flavor fan-out
    // (+1 bucketed flavor per week → jobs/day climb), major resets the
    // fan-out at a once-a-month history-sized cost. Victims selection
    // is the existing compactSegments parameter — no special API.
    if (only.isEmpty || only.contains("incremental_seg_tiered")) {
      val all = segAll
      val histPred = segHistPred
      def dayBatch(d: Int) = segDayBatch(d)
      def fileCount(p: String): Long = segFileCount(p)
      val path = Work.scratch("histidxseg_tiered")
      Work.clean(path)
      t("incremental_seg_tiered base")(
        { Dedup.publishHistorySegment(spark, path, "base",
            all.filter(histPred)); 0L })
      GraftSession.dropAllCaches(spark)
      val walls = (0 until 30).map { d =>
        val b = dayBatch(d)
        val w = t(f"incremental_seg_tiered day$d%02d")(
          Dedup.incrementalAgainstSegmentedIndex(spark, path, b).count())
        Dedup.publishHistorySegment(spark, path, f"day$d%02d", b)
        if (d == 27) {
          // MAJOR: everything active → one bucketed segment; the
          // full rewrite (no adoption) is the point — reset files
          t("incremental_seg_tiered MAJOR")(
            { Dedup.compactSegments(spark, path, "major1",
                adoptAligned = false); 0L })
          println(s"[stress]   files after MAJOR: ${fileCount(path)}")
        } else if ((d + 1) % 7 == 0) {
          // MINOR: only this week's plain tail (base stays put)
          val tail = (d - 6 to d).map(i => f"day$i%02d")
          t(f"incremental_seg_tiered minor-w${(d + 1) / 7}")(
            { Dedup.compactSegments(spark, path, f"w${(d + 1) / 7}",
                victims = tail); 0L })
          println(s"[stress]   files after minor: ${fileCount(path)}")
        }
        GraftSession.dropAllCaches(spark)
        w
      }
      println(s"[stress] seg_tiered files at day 29: ${fileCount(path)}")
      results("incremental_seg_tiered") = (walls(1), walls.last)
      Work.clean(path)
    }
    // r19 (r18 verdict #4): the MAJOR collapse A/B — the decoding
    // rewrite vs the raw row-group CONCAT of bucket-aligned victims
    // (ParquetFileWriter.appendFile: byte copy, no decode/shuffle/
    // re-encode; the plain tail rewrites in both arms). Same pre-MAJOR
    // state built twice (3 one-file/bucket bucketed weeklies + a plain
    // tail, history = mult doc replicas), each arm timed fresh-cache.
    // The row's pair is (rewrite wall, concat wall) — ratio << 1 is
    // the win; the file counts after each MAJOR must BOTH be
    // dial-bounded, and the two results must agree on (rows, content
    // hash). Read beside incremental_seg_tiered's MAJOR, this is the
    // knob that turns the monthly ∝-history rewrite into an IO-bound
    // copy where the store allows it (CompactionPolicy.majorConcat).
    if (only.isEmpty || only.contains("major_concat")) {
      val hist = repDocs(docs, mult)
      def build(tag: String): String = {
        val p = Work.scratch(s"histidx_majcc_$tag")
        Work.clean(p)
        (0 until 3).foreach { k =>
          Dedup.publishHistorySegment(spark, p, s"w$k",
            hist.filter(col("doc_id") % 3 === k))
          Dedup.compactSegments(spark, p, s"cw$k",
            victims = Seq(s"w$k")): Unit
        }
        Dedup.publishHistorySegment(spark, p, "tail", docs): Unit
        p
      }
      val a = build("rw")
      val b = build("cc")
      GraftSession.dropAllCaches(spark)
      val wRw = t("major_concat MAJOR-rewrite")(
        { Dedup.compactSegments(spark, a, "m",
            adoptAligned = false); 0L })
      GraftSession.dropAllCaches(spark)
      val wCc = t("major_concat MAJOR-concat")(
        { Dedup.compactSegments(spark, b, "m", adoptAligned = false,
            concatAligned = true); 0L })
      GraftSession.dropAllCaches(spark)
      def shSig(p: String): (Long, Long) = {
        val df = spark.read.parquet(s"$p/seg_m/sh")
        // bit_xor, not sum: summing 64-bit hashes overflows under ANSI
        val r = df.agg(count(lit(1)),
          expr(s"bit_xor(xxhash64(${df.columns.mkString(", ")}))")).head
        (r.getLong(0), r.getLong(1))
      }
      val (sa, sb) = (shSig(a), shSig(b))
      println(s"[stress]   rewrite files=${segFileCount(s"$a/seg_m")} " +
        s"concat files=${segFileCount(s"$b/seg_m")} " +
        s"sh_rows=${sa._1} rows/hash equal=${sa == sb} " +
        f"wall rewrite=$wRw%.2f s concat=$wCc%.2f s " +
        f"cut=${(1 - wCc / wRw) * 100}%.0f%%")
      require(sa == sb,
        s"concat MAJOR diverged from the rewrite: $sa vs $sb")
      results("major_concat") = (wRw, wCc)
      Work.clean(a)
      Work.clean(b)
    }
    // r20 (r19 verdict #3): majorConcat=auto — the SAME pre-major
    // state must rewrite when its footer row count sits below the
    // crossover and concat when above, chosen by the policy, not the
    // caller. Twin states, thresholds straddling the actual rows; the
    // row also prints the rows and the default-crossover (100k) pick
    // so SCALE.md can place this box's state against the measured
    // crossover.
    if (only.isEmpty || only.contains("major_auto")) {
      val hist = repDocs(docs, mult)
      def build(tag: String): String = {
        val p = Work.scratch(s"histidx_majauto_$tag")
        Work.clean(p)
        (0 until 3).foreach { k =>
          Dedup.publishHistorySegment(spark, p, s"w$k",
            hist.filter(col("doc_id") % 3 === k))
          Dedup.compactSegments(spark, p, s"cw$k",
            victims = Seq(s"w$k")): Unit
        }
        p
      }
      def unsortedFlag(idx: String): Boolean = {
        val seg = Dedup.activeSegments(idx) match {
          case Seq(one) => one
          case other => throw new IllegalStateException(
            s"expected one active segment, got $other")
        }
        val (fsys, rp) = Work.fs(s"$seg/buckets")
        val in = fsys.open(rp)
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim.endsWith(" unsorted")
        finally in.close()
      }
      def shSigOf(idx: String): (Long, Long) = {
        val seg = Dedup.activeSegments(idx).head
        val df = spark.read.parquet(s"$seg/sh")
        val r = df.agg(count(lit(1)),
          expr(s"bit_xor(xxhash64(${df.columns.mkString(", ")}))")).head
        (r.getLong(0), r.getLong(1))
      }
      val lo = build("below")
      val hi = build("above")
      GraftSession.dropAllCaches(spark)
      val wLo = t("major_auto below-crossover")(
        { Dedup.maybeCompact(spark, lo, Dedup.CompactionPolicy(
            minorTail = 99, majorFlavors = 3, majorConcat = "auto",
            concatRowsMin = Long.MaxValue)): Unit; 0L })
      GraftSession.dropAllCaches(spark)
      val wHi = t("major_auto above-crossover")(
        { Dedup.maybeCompact(spark, hi, Dedup.CompactionPolicy(
            minorTail = 99, majorFlavors = 3, majorConcat = "auto",
            concatRowsMin = 1L)): Unit; 0L })
      GraftSession.dropAllCaches(spark)
      val (pickLo, pickHi) = (unsortedFlag(lo), unsortedFlag(hi))
      val (sa, sb) = (shSigOf(lo), shSigOf(hi))
      println(s"[stress]   auto below-pick=" +
        s"${if (pickLo) "concat" else "rewrite"} above-pick=" +
        s"${if (pickHi) "concat" else "rewrite"} sh_rows=${sa._1} " +
        s"default_crossover_pick=" +
        s"${if (sa._1 >= 100000L) "concat" else "rewrite"} " +
        s"rows/hash equal=${sa == sb} " +
        f"wall below=$wLo%.2f s above=$wHi%.2f s")
      require(!pickLo && pickHi,
        "auto must rewrite below the crossover and concat above it")
      require(sa == sb,
        s"auto modes diverged on identical states: $sa vs $sb")
      results("major_auto") = (wLo, wHi)
      Work.clean(lo)
      Work.clean(hi)
    }
    // r18 (r17 verdict #1): the append-spelling fold's headline claim —
    // the weekly fold's WALL is ∝ tail, independent of history size. A
    // standing bucketed segment is built from history at 1× and at
    // mult× (outside the timed region), the SAME-sized plain tail is
    // published beside each, and the timed fold ADOPTS the standing
    // files verbatim (hard link) while staging only the tail. Flat
    // wall across the growth is the claim; the r17 aligned
    // SCAN-rewrite re-read and re-encoded history, so its wall grew
    // with it even though its shuffle didn't.
    if (only.isEmpty || only.contains("fold_append_scaling")) {
      val tail = Dedup.plantedCorpus(repDocs(docs, 1))
        .filter(col("doc_id") % 100000000L >= Dedup.PlantedOffset)
        .select((col("doc_id") + 900000000000L).as("doc_id"), col("text"))
      def runAt(n: Int): Double = {
        val path = Work.scratch(s"histidxfoldx$n")
        Work.clean(path)
        val hist = Dedup.plantedCorpus(repDocs(docs, n))
          .filter(col("doc_id") % 100000000L < Dedup.PlantedOffset)
        Dedup.publishHistorySegment(spark, path, "hist", hist)
        // standing bucketed segment — built OUTSIDE the timed region
        Dedup.compactSegments(spark, path, "c0")
        Dedup.publishHistorySegment(spark, path, "tail", tail)
        GraftSession.dropAllCaches(spark)
        val w = t(s"fold_append x$n")(
          { Dedup.compactSegments(spark, path, "c1"); 0L })
        Work.clean(path)
        GraftSession.dropAllCaches(spark)
        w
      }
      val w1 = runAt(1)
      val wN = runAt(mult)
      println(f"[stress] fold_append wall ratio ${mult}x/1x: ${wN / w1}%.2f" +
        " (flat = fold wall ∝ tail; history adopted, never read)")
      results("fold_append_scaling") = (w1, wN)
    }
    // r17: N× growth for the COMPOSED layout — the r16 64× table
    // (plain 1.21 / bucketed 1.14 wall ratio) extended to the r17
    // steady-state shape: history at N× lands as ONE bucketed
    // compacted segment (publish + re-layout OUTSIDE the timed
    // region), a constant replica-sized plain tail sits beside it, and
    // the FIXED increment queries the composed reader. The contract:
    // increment-side work pinned, wall ratio tracks the bucketed
    // twin's (the tail adds a constant flavor, never an N×-sized
    // stage).
    if (only.isEmpty || only.contains("incremental_composed")) {
      val inc1 = Dedup.plantedCorpus(repDocs(docs, 1))
        .filter(col("doc_id") % 100000000L >= Dedup.PlantedOffset)
      def replicaAt(r: Int) = docs.select(
        (col("doc_id") + lit(r * 100000000L)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          w => concat(w, lit(s"~$r"))), " ").as("text"))
      def runAt(n: Int, label: String): Double = {
        val path = Work.scratch(s"histidxcg_$n")
        Work.clean(path)
        Dedup.publishHistorySegment(spark, path, "hist",
          Dedup.plantedCorpus(repDocs(docs, n)).filter(segHistPred))
        Dedup.compactSegments(spark, path, "c0")
        // constant tail: replica N's (unmatched, disjoint-id) docs —
        // flavor presence and tail-sized join work, no N×-anything
        Dedup.publishHistorySegment(spark, path, "tail", replicaAt(n))
        val sec = t(s"incremental_composed $label")(
          Dedup.incrementalAgainstSegmentedIndex(spark, path,
            inc1).count())
        Work.clean(path)
        sec
      }
      val base = runAt(1, "1x")
      GraftSession.dropAllCaches(spark)
      val big = runAt(mult, s"${mult}x")
      GraftSession.dropAllCaches(spark)
      results("incremental_composed") = (base, big)
    }
    // r14: fluency terciles — the bigram passes grow with rows; the
    // threshold pass is value-domain-sized and must stay flat
    pair("ccnet_buckets")(
      c => graft.ext.Corpus.ccnetBucketsOf(c).count(),
      n => repDocs(docs, n))
    pair("ngram_jaccard")(
      c => Dedup.jaccardPairs(Dedup.shingleSets(Dedup.plantedCorpus(c))).count(),
      n => repDocs(docs, n))
    pair("ngram_jaccard_prefix")(
      c => Dedup.jaccardPairsPrefix(
        Dedup.shingleSets(Dedup.plantedCorpus(c))).count(),
      n => repDocs(docs, n))
    // candidate VOLUME, not wall time: the pair rows entering
    // verification — the quantity prefix filtering exists to cut
    pair("jac_cands_full")(
      { c =>
        val sh = Dedup.shingleSets(Dedup.plantedCorpus(c))
        val inv = sh.select(col("doc_id"), explode(col("shs")).as("sh"))
        inv.select(col("sh"), col("doc_id").as("a"))
          .join(inv.select(col("sh"), col("doc_id").as("b")), "sh")
          .filter(col("a") < col("b"))
          .select("a", "b").distinct().count()
      },
      n => repDocs(docs, n))
    pair("jac_cands_prefix")(
      c => Dedup.prefixCandidates(
        Dedup.shingleSets(Dedup.plantedCorpus(c))).count(),
      n => repDocs(docs, n))
    pair("clusters_cc")(
      { c =>
        // growth row measures the DISTRIBUTED fixed point: the r20
        // bounded-edge driver shortcut would otherwise absorb the small
        // replica counts and fake the growth curve
        spark.conf.set("spark.graft.cc.driverEdges", "0")
        try {
          val sh = Dedup.shingleSets(Dedup.plantedCorpus(c))
          Dedup.connectedComponents(sh.select("doc_id"),
            Dedup.jaccardPairs(sh).select("a", "b")).count()
        } finally spark.conf.unset("spark.graft.cc.driverEdges")
      },
      n => repDocs(docs, n))
    // same CC, per-round state through reliable checkpoint() files —
    // the cluster fault-tolerance mode; the delta vs clusters_cc is the
    // price of surviving executor loss (round-5 verdict ask #6)
    pair("clusters_cc_reliable")(
      { c =>
        spark.sparkContext.setCheckpointDir(Work.scratch("cc_checkpoint"))
        spark.conf.set("spark.graft.cc.reliableCheckpoint", "true")
        try {
          val sh = Dedup.shingleSets(Dedup.plantedCorpus(c))
          // driverEdgeCap = 0 (r20 review #1): the reliable-checkpoint
          // delta only exists on the DISTRIBUTED rounds — without the
          // pin the r20 driver shortcut returns before any checkpoint
          // is written and this row measures the wrong thing
          Dedup.connectedComponents(sh.select("doc_id"),
            Dedup.jaccardPairs(sh).select("a", "b"),
            driverEdgeCap = 0L).count()
        } finally spark.conf.set("spark.graft.cc.reliableCheckpoint", "false")
      },
      n => repDocs(docs, n))
    // the composed flagship pipeline end-to-end (round-6 verdict #6):
    // quality gate → exact dedup → near-dup pairs → CC → fixed-point
    // filter, measured as one unit the way its stages are measured
    // individually above — a composition can regress (persist
    // lifetimes, repeated subtrees) even when every stage is linear.
    // Salting here must PRESERVE stopwords or the quality gate (which
    // requires a stopword ratio) rejects every replica and the
    // pipeline measures an empty corpus; non-stopwords still get the
    // per-replica suffix, so content shingles stay replica-disjoint
    // (an all-stopword trigram can collide across replicas, but such
    // pairs never reach the Jaccard threshold).
    def repDocsKeepStop(n: Int): DataFrame = {
      val stop = ext.TextAnalysis.stopwords
      (0 until n).map { r =>
        docs.select(
          (col("doc_id") + lit(r * 100000000L)).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            w => when(w.isin(stop: _*), w)
              .otherwise(concat(w, lit(s"~$r")))), " ").as("text"))
      }.reduce(_ unionAll _)
    }
    pair("corpus_curate")(
      c => Dedup.curateCorpus(Dedup.plantedCorpus(c)).count(),
      n => repDocsKeepStop(n))
    // MG pass + candidate recount: per-replica word salting grows the
    // DISTINCT key space n× alongside the rows — exactly the regime a
    // full groupBy(term) shuffle degrades in and the m-counter summary
    // shouldn't care about (shuffle stays O(m·partitions))
    pair("heavy_hitters")(
      c => ext.Corpus.heavyHittersOf(c).count(),
      n => repDocs(docs, n))
    // replica salting keeps vocabularies disjoint, so every replica's
    // query docs (+r·1e8 preserves doc_id % 50) only ever score their
    // own replica's postings — candidates per query stay constant and
    // the inverted-index join must grow linearly, n× queries over an
    // n× corpus
    pair("bm25_topk")(
      c => ext.Retrieval.bm25Of(c, ext.Retrieval.idfOf(c)).count(),
      n => repDocs(docs, n))
    // exact-KNN join strategies at the same (queries, refs): the
    // broadcast path vs the block-nested shuffle fallback — the 1x/Nx
    // pair locates the crossover where shipping the reference set to
    // every executor stops paying (round-5 verdict ask #7)
    def knnSides(c: DataFrame) = (
      c.limit(200).select(col("vec_id").as("qid"), col("e").as("qvec")),
      c.select(col("vec_id").as("rid"), col("e").as("rvec"),
        pmod(col("vec_id"), lit(7L)).cast("int").as("label")))
    pair("knn_bcast")(
      { c =>
        val (q, r) = knnSides(c)
        ml.Knn.predictDistributed(q, r, k = 5).count()
      },
      n => repEmb(emb, n))
    pair("knn_shuffled")(
      { c =>
        val (q, r) = knnSides(c)
        ml.Knn.predictShuffled(q, r, k = 5).count()
      },
      n => repEmb(emb, n))
    // pivot-pruned exact predict (r11 punch #6): the growth row that
    // justifies the pruning — at 1x the extra estimate jobs are pure
    // overhead vs knn_bcast; as refs grow, the O(P)-per-pair LB filter
    // skips full-dimension distances and the curve crosses over
    pair("knn_pruned")(
      { c =>
        val (q, r) = knnSides(c)
        ml.Knn.predictDistributedPruned(q, r, k = 5).count()
      },
      n => repEmb(emb, n))
    pair("decontaminate")(
      c => Dedup.decontaminate(
        c.filter(col("doc_id") % 10 =!= 0),
        c.filter(col("doc_id") % 10 === 0)).count(),
      n => repDocs(docs, n))
    // same disjoint-vocab regime: the train distinct-shingle set and
    // the eval inverted index both grow n×, the semi-join never crosses
    // replicas — linear by construction
    pair("contamination_score")(
      c => Dedup.contaminationScore(
        c.filter(col("doc_id") % 10 =!= 0),
        c.filter(col("doc_id") % 10 === 0)).count(),
      n => repDocs(docs, n))
    // replica salting keeps both channels replica-local (+r·1e8
    // preserves doc_id % 50 and vec_id % 50; vocabularies disjoint,
    // rotations cosine-orthogonal): n× queries, constant per-query
    // candidates, k-bounded fusion — the whole stack must grow linearly
    locally {
      val name = "hybrid_rrf"
      if (only.isEmpty || only.contains(name)) {
        def run(n: Int, tag: String): Double = {
          val d = repDocs(docs, n)
          val e = repEmb(emb, n)
          val sec = t(s"$name $tag")(
            ext.Retrieval.hybridRrfOf(
              ext.Retrieval.bm25Of(d, ext.Retrieval.idfOf(d),
                ext.Retrieval.HybridK),
              e.select(col("vec_id"), col("e"))).count())
          GraftSession.dropAllCaches(spark)
          sec
        }
        results(name) = (run(1, "1x"), run(mult, s"${mult}x"))
      }
    }
    // disjoint graph replicas (node ids offset per replica): edges,
    // nodes, and per-round shuffle volume all grow n×, rounds constant
    locally {
      val edges1 = ops.PageRank.tradeEdges(spark, dir)
      pair("graph_pagerank")(
        e => ops.PageRank.pagerankOnEdges(e).count(),
        n => (0 until n).map { r =>
          edges1.select((col("src") + lit(r * 1000000000L)).as("src"),
            (col("dst") + lit(r * 1000000000L)).as("dst"))
        }.reduce(_ unionAll _))
    }
    pair("embedding_cosine")(
      c => Dedup.embeddingCosinePairs(c.unionAll(
        c.select((col("vec_id") + Dedup.PlantedOffset).as("vec_id"),
          transform(col("e"), x => x * 1.5).as("e"))), 0.99).count(),
      n => repEmb(emb, n))
    // same op with the documented scale lever applied: planes grow
    // with log2(N), holding chance-candidate volume ~linear (recall on
    // planted scaled copies is exactly 1 at any plane count)
    pair("embedding_cosine_logplanes")(
      c => Dedup.embeddingCosinePairs(c.unionAll(
        c.select((col("vec_id") + Dedup.PlantedOffset).as("vec_id"),
          transform(col("e"), x => x * 1.5).as("e"))), 0.99).count(),
      n => {
        spark.conf.set("spark.graft.lsh.nearDupPlanes",
          (12 + (math.log(n.toDouble) / math.log(2)).round).toString)
        repEmb(emb, n)
      })
    // round-11: the TopKRewrite evidence pair — the IDENTICAL
    // user-written window top-k, executed as written (naive: every
    // scored row crosses the exchange and sorts per group) vs under
    // the whole-plan rewrite (bounded-heap partials: k rows per
    // (group, partition) cross). Queries fixed at 200, references grow
    // n× — the scored-row set grows n× with them, so the naive form's
    // exchange carries n× more while the rewritten exchange stays
    // O(|Q|·k·partitions) flat.
    locally {
      val name = "topk_window_rewrite"
      if (only.isEmpty || only.contains(name)) {
        graft.plans.TopKRewrite.ensureRegistered(spark)
        def sides(c: DataFrame) = (
          c.limit(200).select(col("vec_id").as("qid"), col("e").as("qe")),
          c.select(col("vec_id").as("rid"), col("e").as("re")))
        def run(n: Int, enabled: Boolean, tag: String): Double = {
          spark.conf.set(graft.plans.TopKRewrite.EnabledConf,
            enabled.toString)
          val (q, r) = sides(repEmb(emb, n))
          val sec = t(s"$name $tag")(
            ext.Similarity.bruteForceTopKWindow(q, r, 5).count())
          GraftSession.dropAllCaches(spark)
          // restore the AMBIENT posture, not a bare unset: since the
          // r15 rules-on default a bare unset left every LATER growth
          // row in a hybrid posture (TopK off, RangeJoin on) that is
          // neither scoped nor rules-on (r15 review)
          GraftSession.applyQueryConfPolicy(spark)
          sec
        }
        results(s"$name:naive") = (run(1, false, "naive 1x"),
          run(mult, false, s"naive ${mult}x"))
        results(s"$name:auto") = (run(1, true, "auto 1x"),
          run(mult, true, s"auto ${mult}x"))
      }
    }
    // round-12: the rank-family twin of the pair above — rank() <= k
    // over data with genuine ties (scores rounded to 2 decimals so tie
    // groups are real), naive window vs the tie-keeping RankTopK
    // rewrite; the rewritten exchange carries (k + boundary ties) rows
    // per (group, partition) instead of the full scored set
    locally {
      val name = "topk_rank_rewrite"
      if (only.isEmpty || only.contains(name)) {
        graft.plans.TopKRewrite.ensureRegistered(spark)
        import org.apache.spark.sql.expressions.Window
        def run(n: Int, enabled: Boolean, tag: String): Double = {
          spark.conf.set(graft.plans.TopKRewrite.EnabledConf,
            enabled.toString)
          val c = repEmb(emb, n)
          val q = c.limit(200).select(col("vec_id").as("qid"),
            col("e").as("qe"))
          val r = c.select(col("vec_id").as("rid"), col("e").as("re"))
          // no rid tiebreak: the order must NOT be total, so tie
          // groups are real and the tie-keeping buffer is exercised
          val w = Window.partitionBy("qid").orderBy(col("cos2").desc)
          val sec = t(s"$name $tag")(
            q.crossJoin(broadcast(r))
              .select(col("qid"), col("rid"),
                round(ext.Dedup.cosine(col("qe"), col("re")), 2).as("cos2"))
              .withColumn("rnk", rank().over(w))
              .filter(col("rnk") <= 5)
              .count())
          GraftSession.dropAllCaches(spark)
          // restore the AMBIENT posture, not a bare unset: since the
          // r15 rules-on default a bare unset left every LATER growth
          // row in a hybrid posture (TopK off, RangeJoin on) that is
          // neither scoped nor rules-on (r15 review)
          GraftSession.applyQueryConfPolicy(spark)
          sec
        }
        results(s"$name:naive") = (run(1, false, "naive 1x"),
          run(mult, false, s"naive ${mult}x"))
        results(s"$name:auto") = (run(1, true, "auto 1x"),
          run(mult, true, s"auto ${mult}x"))
      }
    }
    pair("topk_cosine_lsh")(
      c => Similarity.lshTopK(
        c.limit(200).select(col("vec_id").as("qid"), col("e").as("qe")),
        c.select(col("vec_id").as("rid"), col("e").as("re")),
        k = 5, dim = 64).count(),
      n => repEmb(emb, n))
    pair("inverted_index")(
      c => ext.Corpus.invertedIndexOf(c).count(),
      n => repDocs(docs, n))
    pair("tfidf_topterms")(
      c => ext.Corpus.tfidfOf(c).count(),
      n => repDocs(docs, n))
    // distribution drift: one token shuffle + a 1-row totals broadcast
    // — the vocabulary (not the corpus) bounds the post-shuffle side,
    // so growth should track the scan. Slice by doc parity (repDocs
    // carries no source column).
    pair("token_drift")(
      c => ext.Corpus.tokenDriftOf(c, col("doc_id") % 2 === 0).count(),
      n => repDocs(docs, n))
    // banded hamming pair join (phash/awhash share it): synthetic
    // uniform 64-bit signatures from a salted xxhash of the id — the
    // chance-candidate term n²·4/2¹⁶ is the quadratic-with-tiny-
    // constant cost the 128-bit escalation path exists for; at this n
    // the scan still dominates, which is the point of measuring it
    pair("phash_band_pairs")(
      c => ext.Multimodal.phashPairs(c).count(),
      n => spark.range(n.toLong * 20000).select(
        (col("id").as("doc_id") +: (0 until 4).map(k =>
          pmod(xxhash64(col("id"), lit(k)), lit(65536))
            .cast("int").as(s"b$k"))): _*))
    pair("pack_chunk_text")(
      c => ext.Chunking.packChunkTextOf(c).count(),
      n => repDocs(docs, n))
    // planted per replica (same salt space), so every replica carries
    // its own duplicated spans: output and dup-join volume grow
    // linearly, never across replicas
    // SemDeDup growth with the scale lever APPLIED: centroids = every
    // 16th corpus vector, so k grows ∝ n and |cluster| holds constant —
    // the within-cluster join stays linear by construction. The flat/
    // hier pair then isolates ASSIGNMENT cost: flat folds every vector
    // over all k centroids (n·k FLOPs — quadratic once k ∝ n), hier
    // routes through ⌈√k⌉ reps (n·2√k). Rotation replicas are
    // cosine-orthogonal, so each replica's planted ×1.5 copies stay the
    // only near-dups and output grows exactly linearly.
    def semCorpus(c: DataFrame) = c.unionAll(
      c.select((col("vec_id") + Dedup.PlantedOffset).as("vec_id"),
        transform(col("e"), x => x * 1.5).as("e")))
    def semCents(c: DataFrame) = c.filter(col("vec_id") % 16 === 0)
      .select(col("vec_id").as("cid"), col("e").as("ce"))
    pair("semantic_flat")(
      c => Dedup.semanticDedup(semCorpus(c), semCents(c), 0.99)
        .filter(!col("kept")).count(),
      n => repEmb(emb, n))
    pair("semantic_hier")(
      c => Dedup.semanticDedupHier(semCorpus(c), semCents(c), 0.99)
        .filter(!col("kept")).count(),
      n => repEmb(emb, n))
    // assignment-strategy crossover (Dedup.assignHier scaladoc): FIXED
    // 16× corpus, quantizer density swept — flat folds n·k (linear in
    // k), two-level n·2√k (≈flat wall across the sweep). Noop sink,
    // not count(): under a count Catalyst prunes the argmax projection
    // and the row measures the scan (the round-7 bench trap).
    if (only.isEmpty || only.contains("semantic_ksweep")) {
      val corpus16 = semCorpus(repEmb(emb, 16))
      for (m <- Seq(16, 4, 2, 1)) {
        val cs = repEmb(emb, 16).filter(col("vec_id") % m === 0)
          .select(col("vec_id").as("cid"), col("e").as("ce"))
        val k = cs.count()
        def noop(df: DataFrame): Long = {
          df.write.format("noop").mode("overwrite").save(); 0L
        }
        t(s"assign_flat k=$k")(noop(Dedup.assignFlat(corpus16, cs)))
        GraftSession.dropAllCaches(spark)
        t(s"assign_hier k=$k")(noop(Dedup.assignHier(corpus16, cs)))
        GraftSession.dropAllCaches(spark)
      }
    }
    // directed pairs stay replica-local (disjoint shingle spaces), so
    // output and the inverted-index join grow linearly like jaccard
    pair("containment")(
      c => Dedup.containmentPairs(
        Dedup.shingleSets(Dedup.plantedCorpus(c))).count(),
      n => repDocs(docs, n))
    pair("repeated_spans")(
      c => Dedup.repeatedSpans(Dedup.plantedCorpus(c)).count(),
      n => repDocs(docs, n))
    pair("remove_spans")(
      c => {
        val p = Dedup.plantedCorpus(c)
        Dedup.removeSpans(p, Dedup.repeatedSpans(p)).count()
      },
      n => repDocs(docs, n))
    // stream_window_agg growth: events replicated into disjoint days
    // (ts offset per replica => disjoint windows) with per-replica
    // event types, so the GROUP space grows with the data — the shape
    // a 100 TB event log has. The log-store append is setup, not the
    // measured operator: the timed plan is the bounded read + the one
    // (window, event_type) shuffle, the same plan the bench key runs.
    locally {
      val name = "stream_window_agg"
      if (only.isEmpty || only.contains(name)) {
        val events = Tables(spark, dir, "events")
        def repEvents(n: Int): DataFrame =
          (0 until n).map { r =>
            events.select(
              (col("event_id") + lit(r * 1000000000L)).as("event_id"),
              (col("ts") + lit(r * 86400L * 1000000000L)).as("ts"),
              col("user_id"),
              concat(col("event_type"), lit(s"~$r")).as("event_type"),
              col("value"), col("props"))
          }.reduce(_ unionAll _)
        def run(n: Int, tag: String): Double = {
          val base = Work.scratch("log_window_stress")
          Work.clean(base)
          val store = graft.connector.LogStore(base)
          store.append(repEvents(n), "scope", "events-stream")
          GraftSession.dropAllCaches(spark)
          val sec = t(s"$name $tag")(
            streaming.StreamOps.windowAggOf(
              store.readBounded(spark, "scope", "events-stream",
                streaming.StreamOps.eventSchema)).count())
          GraftSession.dropAllCaches(spark)
          sec
        }
        val base = run(1, "1x")
        val big = run(mult, s"${mult}x")
        Work.clean(Work.scratch("log_window_stress"))
        results(name) = (base, big)
      }
    }
    // windowed quantiles + tukey flags over the replicated event log:
    // the base events already span ~30 days, so the +1-day-per-replica
    // shift OVERLAPS — rows per 5-min window grow ~8× while the window
    // count stays ~flat. That is the harsher histogram test: the
    // per-window bucket fold must absorb 8× observations into a
    // domain-bounded summary (a per-value or sort-based plan would
    // grow with the rows)
    locally {
      val events = Tables(spark, dir, "events")
      def repEvents(n: Int): DataFrame =
        (0 until n).map { r =>
          events.select(
            (col("event_id") + lit(r * 1000000000L)).as("event_id"),
            (col("ts") + lit(r * 86400L * 1000000000L)).as("ts"),
            col("user_id"), col("event_type"), col("value"), col("props"))
        }.reduce(_ unionAll _)
      pair("window_quantile")(
        e => streaming.StreamOps.windowQuantileOf(e).count(),
        n => repEvents(n))
      pair("window_outlier_tukey")(
        e => streaming.StreamOps.windowOutliersOf(e).count(),
        n => repEvents(n))
      // event-analytics family: replicas multiply EVENTS (8×) over a
      // FIXED user population — per-user histories grow 8×, the group
      // spaces (users, weeks², types²) stay put. funnel/retention are
      // min/distinct folds (combine absorbs the growth); transitions
      // pays the one per-user sort, the shape that degrades first
      pair("event_funnel")(
        e => ops.Funnel.funnelOf(e).count(),
        n => repEvents(n))
      pair("event_retention")(
        e => ops.Funnel.retentionOf(e).count(),
        n => repEvents(n))
      pair("event_transitions")(
        e => ops.Funnel.transitionsOf(e).count(),
        n => repEvents(n))
    }
    pair("shuffle_det")(
      c => ext.Corpus.shuffleOf(c).count(),
      n => repDocs(docs, n))
    // round-9 additions -------------------------------------------------
    // scd2/rolling/attribution/hopping/new-vs-returning: 8× events over
    // the fixed user population (overlapping-day replication, the
    // "deeper per-user history" regime); all four are one-user-shuffle
    // plans whose growth should track the row count
    locally {
      val events = Tables(spark, dir, "events")
      def repEvents(n: Int): DataFrame =
        (0 until n).map { r =>
          events.select(
            (col("event_id") + lit(r * 1000000000L)).as("event_id"),
            (col("ts") + lit(r * 86400L * 1000000000L)).as("ts"),
            col("user_id"), col("event_type"), col("value"), col("props"))
        }.reduce(_ unionAll _)
      pair("scd2_intervals")(
        e => ops.Relational.scd2Of(e).count(),
        n => repEvents(n))
      pair("rolling_window")(
        e => ops.Relational.rollingWindowOf(e).count(),
        n => repEvents(n))
      pair("attribution")(
        e => ops.Funnel.lastTouchOf(e).count(),
        n => repEvents(n))
      pair("hopping_window")(
        e => streaming.StreamOps.hoppingAggOf(e).count(),
        n => repEvents(n))
      pair("new_vs_returning")(
        e => ops.Funnel.newVsReturningOf(e).count(),
        n => repEvents(n))
      pair("window_topk")(
        e => streaming.StreamOps.windowTopkOf(e).count(),
        n => repEvents(n))
      pair("top_paths")(
        e => ops.Funnel.topPathsOf(e).count(),
        n => repEvents(n))
      pair("window_approx_users")(
        e => streaming.StreamOps.windowApproxUsersOf(e).count(),
        n => repEvents(n))
      // count_min: the sketch is FIXED d×w regardless of input — the
      // growth row should show ~linear scan cost and a flat buffer
      // shuffle (the whole point of the sketch)
      pair("count_min_grid")(
        e => {
          e.select(col("user_id"))
            .agg(graft.functions.CountMin.countMin(col("user_id"), 4, 512)
              .as("cm"))
            .select("cm.total").collect().head.getLong(0)
        },
        n => repEvents(n))
    }
    // triangles: replicas are DISJOINT graphs (order/part ids offset into
    // disjoint ranges), so edges, wedges and triangles all grow ~n×; a
    // super-linear ratio here means the orientation stopped bounding the
    // wedge fan-out
    locally {
      val li = Tables(spark, dir, "lineitem")
        .select("l_orderkey", "l_partkey")
      def repLi(n: Int): DataFrame =
        (0 until n).map { r =>
          li.select(
            (col("l_orderkey") + lit(r * 1000000000L)).as("l_orderkey"),
            (col("l_partkey") + lit(r * 100000000L)).as("l_partkey"))
        }.reduce(_ unionAll _)
      pair("graph_triangles")(
        l => ops.Triangles.triangleList(
          ops.Triangles.coPurchaseEdgesOf(l)).count(),
        n => repLi(n))
    }
    // multi-touch attribution: 8× events over fixed users — candidate
    // pairs grow with clicks-per-bucket × purchases, the bucketed
    // interval join's honest linear cost
    locally {
      val events = Tables(spark, dir, "events")
      // USER-salted replicas: the day-shifted replication the windowed
      // rows use leaves replicas overlapping in time (30-day span,
      // 1-day shifts), which DENSIFIES every user's 6 h lookback 8× —
      // for the one interval-join-shaped operator that is quadratic in
      // per-user density, the measured 8× ratio was ~89 with output up
      // 58.7× (per-ROW cost grew only ~1.5×: the data, not the plan).
      // Disjoint per-replica user ids keep per-user density constant,
      // so the row measures the operator's growth, as the disjoint
      // shingle/catalog salts do for the join-shaped text ops.
      def repEvents(n: Int): DataFrame =
        (0 until n).map { r =>
          events.select(
            (col("event_id") + lit(r * 1000000000L)).as("event_id"),
            (col("ts") + lit(r * 86400L * 1000000000L)).as("ts"),
            (col("user_id") + lit(r * 1000000000L)).as("user_id"),
            col("event_type"), col("value"), col("props"))
        }.reduce(_ unionAll _)
      pair("attribution_multi")(
        e => ops.Funnel.multiTouchOf(e).count(),
        n => repEvents(n))
    }
    // co-purchase top-k: disjoint replica catalogs; the bounded-heap
    // keeps k entries per (item, partition) however hot an item gets
    locally {
      val li = Tables(spark, dir, "lineitem")
        .select("l_orderkey", "l_partkey")
      def repLi(n: Int): DataFrame =
        (0 until n).map { r =>
          li.select(
            (col("l_orderkey") + lit(r * 1000000000L)).as("l_orderkey"),
            (col("l_partkey") + lit(r * 100000000L)).as("l_partkey"))
        }.reduce(_ unionAll _)
      def topkOf(l: DataFrame): Long = {
        val p = l.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val pairs = p.as("a").join(p.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
          .agg(count(lit(1)).as("n"))
        val sym = pairs.unionAll(
          pairs.select(col("v").as("u"), col("u").as("v"), col("n")))
        sym.groupBy("u")
          .agg(graft.functions.TopK.smallestK(
            (-col("n")).cast("double"), col("v"), lit(0), 5).as("top"))
          .count()
      }
      pair("copurchase_topk")(topkOf, n => repLi(n))
    }
    // boilerplate: replicas get disjoint word spaces (so natural-line
    // df stays 1), while the operator plants its footers on doc_id
    // % 3/5 of the REPLICATED corpus — footer df grows with the corpus
    // and the ≥10%-of-docs threshold scales with it, so the rule keeps
    // firing at every multiplier
    pair("boilerplate")(
      c => ext.TextAnalysis.boilerplateOf(c).count(),
      n => repDocs(docs, n))
    // entity resolution: replicas offset nationkey into disjoint block
    // spaces — candidates and matches grow linearly; a hot shared block
    // would show up as a super-linear candidate join
    locally {
      val cust = Tables(spark, dir, "customer")
      def repCust(n: Int): DataFrame =
        (0 until n).map { r =>
          cust.select(
            (col("c_custkey") + lit(r * 1000000L)).as("c_custkey"),
            col("c_name"),
            (col("c_nationkey") + lit(r * 100)).as("c_nationkey"),
            col("c_acctbal"), col("c_mktsegment"))
        }.reduce(_ unionAll _)
      pair("er_blocked_match")(
        c => ext.EntityResolution.erMatchOf(c).count(),
        n => repCust(n))
    }

    println(f"[stress] ${"operator"}%-20s ${"1x"}%8s ${mult + "x"}%8s ${"ratio"}%7s  (linear => ratio ~ " + mult + ")")
    results.foreach { case (name, (a, b)) =>
      println(f"[stress] $name%-20s $a%8.2f $b%8.2f ${b / a}%7.2f")
    }
    spark.stop()
  }
}
