package graft

import graft.ext.{Dedup, ImageCodec, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

class ExtSpec extends SparkSpec {

  // --- dedup ----------------------------------------------------------

  test("minhash-LSH near-dup equals brute-force jaccard pairs") {
    val corpus = Dedup.plantedCorpus(Tables(spark, sf, "documents"))
    val brute = Dedup.jaccardPairs(Dedup.shingleSets(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashDedup(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == brute,
      s"missed=${(brute -- lsh).take(5)} extra=${(lsh -- brute).take(5)}")
    assert(brute.nonEmpty, "planted near-dups must be found")
  }

  test("planted perturbations are recovered as near-dup pairs") {
    val corpus = Dedup.plantedCorpus(Tables(spark, sf, "documents").limit(50))
    val pairs = Dedup.jaccardPairs(Dedup.shingleSets(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // docs with enough words: dropping the last word keeps J >= 0.5
    val planted = pairs.filter { case (a, b) => b == a + Dedup.PlantedOffset }
    assert(planted.size >= 40, s"only ${planted.size} planted pairs found")
  }

  test("repeated spans: a planted shared word range is recovered exactly") {
    val sp = spark
    import sp.implicits._
    // Unique vocabulary everywhere except a 16-word run planted at
    // word 5 (1-based) of doc 1 and word 10 of doc 2; doc 3 unrelated.
    val shared = (0 until 16).map(i => s"dup$i")
    val d1 = ((0 until 4).map(i => s"a$i") ++ shared ++
      (0 until 20).map(i => s"b$i")).mkString(" ")
    val d2 = ((0 until 9).map(i => s"c$i") ++ shared ++
      (0 until 12).map(i => s"d$i")).mkString(" ")
    val d3 = (0 until 40).map(i => s"e$i").mkString(" ")
    val docs = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(docs, k = 8, minSpanWords = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // duplicated 8-gram start positions cover exactly the shared run,
    // so the merged span is the run itself: 16 words at 5 resp. 10
    assert(spans == Set((1L, 5L, 16L), (2L, 10L, 16L)), spans.toString)
    // below the floor: a 10-word shared run (< minSpanWords) is noise
    val s2 = (0 until 10).map(i => s"f$i")
    val e1 = ((0 until 8).map(i => s"g$i") ++ s2 ++
      (0 until 8).map(i => s"h$i")).mkString(" ")
    val e2 = ((0 until 8).map(i => s"i$i") ++ s2 ++
      (0 until 8).map(i => s"j$i")).mkString(" ")
    val none = Dedup.repeatedSpans(
      Seq((1L, e1), (2L, e2)).toDF("doc_id", "text"),
      k = 8, minSpanWords = 12)
    assert(none.count() == 0, "sub-floor spans must be dropped")
    // two shared runs separated by >= k unique words stay two spans
    val m1 = ((0 until 4).map(i => s"k$i") ++ shared ++
      (0 until 9).map(i => s"m$i") ++ shared.map(_ + "x") ++
      (0 until 4).map(i => s"n$i")).mkString(" ")
    val m2 = (shared ++ (0 until 30).map(i => s"p$i") ++
      shared.map(_ + "x")).mkString(" ")
    val two = Dedup.repeatedSpans(
      Seq((1L, m1), (2L, m2)).toDF("doc_id", "text"),
      k = 8, minSpanWords = 12)
      .filter(col("doc_id") === 1L).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(two == Set((5L, 16L), (30L, 16L)), two.toString)
  }

  test("span removal: cut-list ranges are excised, untouched docs pass through") {
    val sp = spark
    import sp.implicits._
    val shared = (0 until 16).map(i => s"dup$i")
    val pre1 = (0 until 4).map(i => s"a$i")
    val post1 = (0 until 20).map(i => s"b$i")
    val pre2 = (0 until 9).map(i => s"c$i")
    val post2 = (0 until 12).map(i => s"d$i")
    val lone = (0 until 40).map(i => s"e$i")
    val docs = Seq(
      (1L, (pre1 ++ shared ++ post1).mkString(" ")),
      (2L, (pre2 ++ shared ++ post2).mkString(" ")),
      (3L, lone.mkString(" ")),
      (4L, "tiny doc under gram width")).toDF("doc_id", "text")
    val out = Dedup.removeSpans(docs, Dedup.repeatedSpans(docs, k = 8, minSpanWords = 12))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == ((pre1 ++ post1).mkString(" "), 16L), out(1L).toString)
    assert(out(2L) == ((pre2 ++ post2).mkString(" "), 16L), out(2L).toString)
    assert(out(3L) == (lone.mkString(" "), 0L))
    assert(out(4L) == ("tiny doc under gram width", 0L))
  }

  test("simhash: near-identical docs have small hamming distance") {
    val docs = Tables(spark, sf, "documents").limit(100)
    val corpus = Dedup.plantedCorpus(docs)
    val sigs = Dedup.simhashSignatures(corpus)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val planted = sigs.keys.filter(_ < Dedup.PlantedOffset)
      .filter(id => sigs.contains(id + Dedup.PlantedOffset))
    assert(planted.nonEmpty)
    val dists = planted.map(id => hamming(sigs(id), sigs(id + Dedup.PlantedOffset)))
    // perturbed copy differs by one word → signatures nearly identical
    // (short docs shift more bits, so the bound is generous)
    assert(dists.count(_ <= 12).toDouble / dists.size >= 0.95,
      s"too many distant planted pairs: ${dists.toSeq.sorted.reverse.take(5)}")
    assert(dists.sum.toDouble / dists.size < 8.0)
  }

  test("bucketed embedding-cosine near-dup equals brute-force all-pairs") {
    val emb = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val corpus = emb.unionAll(
      emb.select((col("vec_id") + Dedup.PlantedOffset).as("vec_id"),
        transform(col("e"), x => x * 1.5).as("e")))
    val x = corpus.select(col("vec_id").as("a"), col("e").as("ea"))
    val y = corpus.select(col("vec_id").as("b"), col("e").as("eb"))
    val brute = x.join(y, col("a") < col("b"))
      .filter(Dedup.cosine(col("ea"), col("eb")) >= 0.99)
      .select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = Dedup.embeddingCosine.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed == brute,
      s"missed=${(brute -- bucketed).take(5)} extra=${(bucketed -- brute).take(5)}")
    assert(brute.nonEmpty, "planted scaled copies must be found")
  }

  test("semantic dedup drops exactly the planted scaled copies") {
    val out = Dedup.semantic.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val base = Tables(spark, sf, "embeddings")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(out.length == 2 * base.size, "one output row per corpus row")
    // cosine assignment is scale-invariant: a planted ×1.5 copy lands in
    // its original's cluster with probability exactly 1
    val cid = out.map(t => t._1 -> t._2).toMap
    base.foreach { id =>
      assert(cid(id) == cid(id + Dedup.PlantedOffset),
        s"copy of $id assigned to ${cid(id + Dedup.PlantedOffset)} != ${cid(id)}")
    }
    // planted pairs sit at cosine ~1.0, natural pairs far below 0.99 →
    // keep-lowest-id prunes exactly the planted half
    val dropped = out.filter(!_._3).map(_._1).toSet
    assert(dropped == base.map(_ + Dedup.PlantedOffset),
      s"unexpected prune set diff: ${(dropped -- base.map(_ + Dedup.PlantedOffset)).take(5)}")
  }

  test("hierarchical semantic dedup preserves planted-copy recall through both levels") {
    val out = Dedup.semanticHier.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val base = Tables(spark, sf, "embeddings")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(out.length == 2 * base.size, "one output row per corpus row")
    // scale-invariance holds through BOTH argmax levels: a ×1.5 copy
    // picks the same rep, then the same centroid, as its original
    val cid = out.map(t => t._1 -> t._2).toMap
    base.foreach { id =>
      assert(cid(id) == cid(id + Dedup.PlantedOffset),
        s"copy of $id routed to ${cid(id + Dedup.PlantedOffset)} != ${cid(id)}")
    }
    // so the prune set is exactly the planted half, same as the flat key
    val dropped = out.filter(!_._3).map(_._1).toSet
    assert(dropped == base.map(_ + Dedup.PlantedOffset))
    // the hierarchy is real: a vector's cell can differ from flat
    // assignment's global argmax (IVF trade) but cluster membership
    // keys the SAME centroid id space — every assigned cid is a centroid
    val cents = base.filter(_ % 16 == 0)
    assert(out.map(_._2).toSet.subsetOf(cents),
      "assigned cid outside the centroid set")
  }

  test("connected components resolve transitive chains into one cluster") {
    val sp = spark
    import sp.implicits._
    // chain 1-2-3 (no direct 1-3 edge), pair 10-11, singleton 20
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val got = Dedup.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("reliable-checkpoint mode produces identical components") {
    val sp = spark
    import sp.implicits._
    val cpDir = s"${Work.dir}/test_cc_checkpoint"
    Work.clean(cpDir)
    sp.sparkContext.setCheckpointDir(cpDir)
    sp.conf.set("spark.graft.cc.reliableCheckpoint", "true")
    // reliable checkpointing is a DISTRIBUTED-path property — disable
    // the r20 bounded-edge driver shortcut so rounds actually run
    sp.conf.set("spark.graft.cc.driverEdges", "0")
    try {
      val nodes = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
      val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
      val got = Dedup.connectedComponents(nodes, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
        10L -> 10L, 11L -> 10L, 20L -> 20L))
      // per-round state actually went through reliable checkpoint files
      val files = new java.io.File(cpDir).listFiles()
      assert(files != null && files.nonEmpty,
        "reliable mode must write checkpoint state")
    } finally {
      sp.conf.unset("spark.graft.cc.reliableCheckpoint")
      sp.conf.unset("spark.graft.cc.driverEdges")
    }
  }

  test("MinHash band auto-planning: (b, r) derived from a target " +
      "Jaccard threshold meets the recall floor, matches the " +
      "brute-force pairs across two auto-planned configurations, and " +
      "the plan token travels with published segments (r19 verdict #7)") {
    import org.apache.spark.sql.functions.col
    val corpus = Dedup.plantedCorpus(Tables(spark, sf, "documents"))
    val want = Dedup.jaccardPairs(Dedup.shingleSets(corpus))
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // two distinct auto-planned configurations at J* = 0.5
    val p64 = Dedup.planBands(0.5, 64, 0.95)
    val p128 = Dedup.planBands(0.5, 128, 0.999)
    assert(p64 != p128, s"expected distinct plans, got ${p64.token}")
    Seq(p64, p128).foreach { p =>
      assert(p.hashes <= (if (p == p64) 64 else 128),
        s"${p.token} blew its budget")
      assert(p.candidateProb(0.5) >= 0.95,
        s"${p.token} misses the recall floor at J*")
      val got = Dedup.minhashDedupPlanned(corpus, p)
        .select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want,
        s"plan ${p.token}: planned LSH must equal brute force, " +
          s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    }
    // a sharper plan never pays MORE false-candidate mass than the
    // 1-row degenerate plan at the same budget
    assert(p64.rowsPerBand > 1, "planner must not pick the all-pairs r=1")
    // deterministic: two independent planners agree (the published-
    // token contract), and infeasibility is a pointed error
    assert(Dedup.planBands(0.5, 64, 0.95) == p64)
    intercept[IllegalArgumentException](
      Dedup.planBands(0.01, 2, 0.999999))
    // the plan token round-trips and TRAVELS with published segments:
    // a probe against a segment recorded under a different banding
    // fails pointedly instead of silently losing recall
    assert(Dedup.parseBandPlan(p64.token, "spec") == p64)
    val idx = Work.scratch("lshplan_idx")
    Work.clean(idx)
    Dedup.publishHistorySegment(spark, idx, "d0",
      corpus.limit(40)): Unit
    val (fsys, rp) = Work.fs(s"$idx/seg_d0/lshplan")
    assert(fsys.exists(rp), "published segment must carry its plan")
    val out = fsys.create(rp, true)
    out.write("b=8;r=8".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalArgumentException](
      Dedup.incrementalAgainstSegmentedIndex(spark, idx,
        corpus.limit(10)))
    assert(e.getMessage.contains("b=8;r=8"),
      s"mismatched plan must fail pointedly, got: ${e.getMessage}")
    Work.clean(idx)
  }

  test("text_pii_scrub redacts all four PII kinds through the " +
      "sequential chain (emails, cards, phones, IPv4s — r19 verdict #5)") {
    import org.apache.spark.sql.functions.col
    val rows = graft.ext.TextAnalysis.piiScrub.fn(spark, sf)
    val all = rows.collect()
    assert(all.nonEmpty)
    // a doc_id divisible by 10·9·7·11 would carry all four; the
    // planted corpus is smaller, so check each kind on its residue
    val emailDoc = all.filter(r => r.getLong(0) % 10 == 0).head
    assert(emailDoc.getAs[Int]("n_emails") >= 1 &&
      emailDoc.getAs[String]("redacted").contains("<EMAIL>"))
    val cardDoc = all.filter(r => r.getLong(0) % 9 == 0).head
    assert(cardDoc.getAs[Int]("n_cards") >= 1 &&
      cardDoc.getAs[String]("redacted").contains("<CARD>"))
    val phoneDoc = all.filter(r => r.getLong(0) % 7 == 0).head
    assert(phoneDoc.getAs[Int]("n_phones") >= 1 &&
      phoneDoc.getAs[String]("redacted").contains("<PHONE>"))
    val ipDoc = all.filter(r => r.getLong(0) % 11 == 0).head
    assert(ipDoc.getAs[Int]("n_ips") >= 1 &&
      ipDoc.getAs[String]("redacted").contains("<IP>"))
    // no raw planted residue survives anywhere
    all.foreach { r =>
      val red = r.getAs[String]("redacted")
      assert(!red.contains("@example.com"), s"email residue in ${r.getLong(0)}")
      assert(!red.contains("4111 1111"), s"card residue in ${r.getLong(0)}")
      assert(!red.contains("(555) 123-"), s"phone residue in ${r.getLong(0)}")
      assert(!red.contains(" from 192.168."), s"ip residue in ${r.getLong(0)}")
    }
    // a multi-kind doc (divisible by 10 and 9, e.g. 90·k) chains:
    // both redactions present in ONE document
    all.find(r => r.getLong(0) % 90 == 0 && r.getLong(0) % 7 != 0)
      .foreach { r =>
        val red = r.getAs[String]("redacted")
        assert(red.contains("<EMAIL>") && red.contains("<CARD>"),
          s"multi-kind doc ${r.getLong(0)} must carry both redactions")
      }
  }

  test("unionFindRejects equals the distributed CC's reject set " +
      "(chains, stars, out-of-order arrival, randomized)") {
    val sp = spark
    import sp.implicits._
    def ccRejects(edges: Seq[(Long, Long)]): Set[Long] = {
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.toDF("doc_id")
      // the reference must be the DISTRIBUTED fixed point — with the
      // r20 driver shortcut on, this would compare union-find to itself
      sp.conf.set("spark.graft.cc.driverEdges", "0")
      try Dedup.connectedComponents(nodes, edges.toDF("a", "b"))
        .filter(org.apache.spark.sql.functions.col("doc_id") =!=
          org.apache.spark.sql.functions.col("cluster"))
        .collect().map(_.getLong(0)).toSet
      finally sp.conf.unset("spark.graft.cc.driverEdges")
    }
    def ufRejects(edges: Seq[(Long, Long)]): Set[Long] =
      Dedup.unionFindRejects(edges.toDF("a", "b")).toSet
    // chain (transitive), star, pair — min arriving LAST in its pairs
    val fixed = Seq(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)),
      Seq((7L, 5L), (5L, 3L)), // descending chain: min arrives last
      Seq((4L, 9L), (4L, 6L), (4L, 2L))) // star re-rooted onto 2
    fixed.foreach(e => assert(ufRejects(e) == ccRejects(e),
      s"mismatch on $e"))
    // randomized cross-check, deterministic seed
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { _ =>
      val e = (1 to 60).map(_ =>
        (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(p => p._1 != p._2)
      assert(ufRejects(e) == ccRejects(e), s"mismatch on random $e")
    }
    assert(Dedup.unionFindRejects(
      Seq.empty[(Long, Long)].toDF("a", "b")).isEmpty)
  }

  test("pointer jumping converges on a chain far longer than maxIter") {
    val sp = spark
    import sp.implicits._
    // a 64-node path has diameter 63: plain min-propagation needs 63
    // rounds, pointer jumping covers it in <= 8 (reach doubles/round).
    // Distributed-path property: disable the r20 driver shortcut.
    val n = 64
    val nodes = (0 until n).map(_.toLong).toDF("doc_id")
    val edges = (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("a", "b")
    sp.conf.set("spark.graft.cc.driverEdges", "0")
    val got =
      try Dedup.connectedComponents(nodes, edges, maxIter = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally sp.conf.unset("spark.graft.cc.driverEdges")
    assert(got == (0 until n).map(_.toLong -> 0L).toMap)
    // cap-boundary fallback: a cap SMALLER than the edge count must
    // fall through to the distributed fixed point and still converge
    // to identical labels (the probe is limit(cap+1), so equality here
    // witnesses the fallback, not the shortcut)
    sp.conf.set("spark.graft.cc.driverEdges", "5")
    val gotFall =
      try Dedup.connectedComponents(nodes, edges, maxIter = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally sp.conf.unset("spark.graft.cc.driverEdges")
    assert(gotFall == got)
  }

  test("dedup_clusters: planted perturbation pairs share their base cluster") {
    val rows = Dedup.clusters.fn(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val planted = rows.keys.filter(id =>
      id < Dedup.PlantedOffset && rows.contains(id + Dedup.PlantedOffset))
    assert(planted.nonEmpty)
    val linked = planted.count(id =>
      rows(id + Dedup.PlantedOffset) == rows(id))
    // most planted perturbations are near-dups of their base (short docs
    // fall below the jaccard threshold, matching the pair operator)
    assert(linked.toDouble / planted.size > 0.8, s"$linked/${planted.size}")
  }

  test("prefix-filtered jaccard pairs equal the full inverted-index pairs") {
    val sh = Dedup.shingleSets(Dedup.plantedCorpus(
      Tables(spark, sf, "documents")))
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairSet(Dedup.jaccardPairs(sh))
    val pref = pairSet(Dedup.jaccardPairsPrefix(sh))
    assert(pref == full,
      s"missing=${(full -- pref).take(5)} extra=${(pref -- full).take(5)}")
    assert(full.nonEmpty)
  }

  test("shingle-df cap drops only hot-shingle candidates, keeps planted pairs") {
    val corpus = Dedup.plantedCorpus(Tables(spark, sf, "documents").limit(100))
    val shingled = Dedup.shingleSets(corpus)
    val uncapped = Dedup.jaccardPairs(shingled)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a generous cap keeps the planted near-dup pairs: their shared
    // shingles are doc-specific (df ≈ 2), far below any sane cap
    val capped = Dedup.jaccardPairs(shingled, shingleDfCap = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = uncapped.filter { case (a, b) => b == a + Dedup.PlantedOffset }
    assert(planted.subsetOf(capped),
      s"cap lost planted pairs: ${(planted -- capped).take(5)}")
    assert(capped.subsetOf(uncapped), "cap must only remove pairs")
  }

  test("keep-best with a cap above the corpus max-df is bit-identical " +
      "to uncapped (recall 1.0 through the full consumer)") {
    // r15 verdict #2: the cap lever exists on jaccardPairs but the
    // flagship consumer is keepBestOf — pin that the capped posture is
    // LOSSLESS whenever the cap clears the corpus's hottest shingle
    // (the exclusive `df > cap` contract), all the way through
    // CC + argmax, not just at the pair set.
    val corpus = Dedup.plantedCorpus(Tables(spark, sf, "documents"))
    val maxDf = Dedup.shingleSets(corpus)
      .select(explode(col("shs")).as("sh"))
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .agg(max(col("df"))).head().getLong(0).toInt
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val uncapped = rows(Dedup.keepBestOf(corpus))
    assert(rows(Dedup.keepBestOf(corpus, shingleDfCap = maxDf)) == uncapped)
    // an aggressive cap still yields a REFINEMENT: capping only
    // removes pairs, so clusters can only split — more keep rows,
    // every cluster key still a real (scored) doc id, never more rows
    // than scored docs
    val aggressive = rows(Dedup.keepBestOf(corpus, shingleDfCap = 2))
    assert(aggressive.size >= uncapped.size,
      "splitting clusters can only increase keep rows")
    val scoredIds = corpus
      .filter(size(graft.ext.TextAnalysis.tokensWs(col("text"))) >=
        Dedup.ShingleN)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(aggressive.map(_._1).subsetOf(scoredIds),
      "capping invented a cluster key outside the scored doc-id domain")
    assert(aggressive.size <= scoredIds.size,
      "more keep rows than scored docs")
  }

  test("decontamination df-cap: boilerplate shingles stop counting, " +
      "genuine rare leaks survive") {
    val sp = spark
    import sp.implicits._
    // 10 train docs share one boilerplate 4-gram; train doc 0 also
    // leaks a genuine 4-gram that test doc 1 contains. Unique per-doc
    // prefixes make every boundary-spanning shingle unmatchable, so
    // the shared shingles are EXACTLY the pure boilerplate (df 10) and
    // the pure leak (df 1).
    val boiler = "all rights reserved here"
    val leak = "zebra quasar nimbus forge"
    val train = (0 until 10).map { i =>
      val extra = if (i == 0) s" $leak" else ""
      (i.toLong, s"t${i}a t${i}b t${i}c $boiler$extra")
    }.toDF("doc_id", "text")
    val test = Seq(
      (100L, s"q1a q1b q1c $leak $boiler"),
      (101L, s"q2a q2b q2c $boiler")).toDF("doc_id", "text")
    def counts(cap: Int) = Dedup.decontaminate(train, test,
        shingleDfCap = cap)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // uncapped: both test docs collide via boilerplate (df 10); doc
    // 100 additionally via the leak (df 1) — the leak sits BEFORE the
    // boilerplate in the test doc but AFTER it in train doc 0, so no
    // boundary shingle matches
    val un = counts(0)
    assert(un(101L) == 10L, s"expected pure-boilerplate df 10: $un")
    assert(un(100L) == 11L, s"leak must add exactly its df-1 count: $un")
    // capped at 5: boilerplate (df 10) stops counting; only doc 100's
    // genuine rare leak survives, and doc 101 drops out entirely
    val capped = counts(5)
    assert(!capped.contains(101L), s"boilerplate-only doc must drop: $capped")
    assert(capped(100L) == un(100L) - 10L,
      s"cap must remove exactly the df-10 boilerplate count: $capped vs $un")
  }

  test("simhash banded near-dup equals brute-force hamming filter") {
    val sigs = Dedup.simhashSignatures(
      Dedup.plantedCorpus(Tables(spark, sf, "documents")))
    val local = sigs.collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, sa) <- local
      (b, sb) <- local
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    val banded = Dedup.simhashPairs(sigs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute,
      s"missed=${(brute -- banded).take(5)} extra=${(banded -- brute).take(5)}")
    assert(brute.nonEmpty, "planted near-identical docs must collide")
  }

  test("simhash128 banded near-dup equals brute-force hamming filter") {
    val sigs = Dedup.simhashSignatures128(
      Dedup.plantedCorpus(Tables(spark, sf, "documents")))
    val local = sigs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = (for {
      (a, a0, a1) <- local
      (b, b0, b1) <- local
      if a < b && java.lang.Long.bitCount(a0 ^ b0) +
        java.lang.Long.bitCount(a1 ^ b1) <= 3
    } yield (a, b)).toSet
    val banded = Dedup.simhashPairs128(sigs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute,
      s"missed=${(brute -- banded).take(5)} extra=${(banded -- brute).take(5)}")
    assert(brute.nonEmpty, "planted perturbations must land within hamming 3")
  }

  test("dedup_exact counts planted exact copies") {
    val rows = Dedup.exact.fn(spark, sf).collect()
    val withCopies = rows.count(_.getLong(2) >= 2)
    val total = Tables(spark, sf, "documents").count()
    assert(withCopies >= (total / 10 * 9 / 10).toInt) // ~n/10 planted dups
  }

  // --- similarity -----------------------------------------------------

  private def recallVsBrute(approx: Set[(Long, Long)],
      brute: Set[(Long, Long)]): Double =
    approx.intersect(brute).size.toDouble / brute.size

  test("LSH top-k recall vs brute force is substantial") {
    val (q, r) = Similarity.split(spark, sf)
    val brute = Similarity.bruteForceTopK(q, r, Similarity.K)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toSet
    val approx = Similarity.lshTopK(q, r, Similarity.K, 64)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toSet
    val rec = recallVsBrute(approx, brute)
    assert(rec > 0.3, s"LSH recall $rec too low")
  }

  test("IVF top-k recall vs brute force is substantial") {
    val (q, r) = Similarity.split(spark, sf)
    val brute = Similarity.bruteForceTopK(q, r, Similarity.K)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toSet
    val approx = Similarity.ivfTopK(q, r, Similarity.K)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toSet
    val rec = recallVsBrute(approx, brute)
    assert(rec > 0.3, s"IVF recall $rec too low")
    // trained coarse quantizer: Lloyd k-means centroids must do at
    // least as well as the naive every-16th stand-in (same probe count
    // over better-shaped cells)
    val trained = Similarity.kmeansCentroids(r, k = 24, iters = 3)
    val approxKm = Similarity.ivfTopK(q, r, Similarity.K, Some(trained))
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toSet
    val recKm = recallVsBrute(approxKm, brute)
    assert(recKm >= rec - 0.05, s"k-means IVF recall $recKm worse than naive $rec")
  }

  test("native-argmin IVF equals window-rank IVF, row for row") {
    // assignment argmin AND the ≤nprobe probe rank must reproduce the
    // window's (distance, cid) tie order exactly — both with the
    // default every-16th quantizer and a trained one
    val (q, r) = Similarity.split(spark, sf)
    val native = Similarity.ivfTopK(q, r, Similarity.K)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
    val window = Similarity.ivfTopKWindow(q, r, Similarity.K)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
    assert(native == window)
    assert(native.nonEmpty)
    val trained = Similarity.kmeansCentroids(r, k = 24, iters = 2)
    val nativeKm = Similarity.ivfTopK(q, r, Similarity.K, Some(trained))
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
    val windowKm = Similarity.ivfTopKWindow(q, r, Similarity.K, Some(trained))
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
    assert(nativeKm == windowKm)
  }

  test("PQ codes are valid 4-bit words and ADC search ranks genuine L2 neighbors") {
    val fns = org.apache.spark.sql.functions
    val codes = graft.ext.Embeddings.pqCodes.fn(spark, sf).collect()
    val n = Tables(spark, sf, "embeddings").count()
    assert(codes.length == n, "one code row per vector")
    // 8 codes per vector, each a valid index into a 16-entry book —
    // 64 doubles (512 B) reduced to 8 nibbles
    codes.foreach { r =>
      val cs = r.getString(1).split(",")
      assert(cs.length == graft.ext.Embeddings.PqM)
      cs.foreach { c =>
        assert(c.toLong >= 0 && c.toLong < graft.ext.Embeddings.PqK, c)
      }
    }
    // recall floor vs EXACT L2 top-k. Untrained first-K codebooks over
    // near-random synthetic vectors are PQ's worst case (no cluster
    // structure to exploit — measured ~0.19 here; real embedding
    // corpora do far better, and per-subspace Lloyd via
    // kmeansCentroids is the trained path), so the floor pins
    // "genuinely better than chance" (chance ≈ k/n ≈ 0.02), not
    // production recall.
    val (q, r) = Similarity.split(spark, sf)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(fns.col("d").asc, fns.col("rid").asc)
    val exact = q.crossJoin(r)
      .withColumn("d", graft.ml.Knn.sqDist(fns.col("qe"), fns.col("re")))
      .withColumn("rk", fns.row_number().over(w))
      .filter(fns.col("rk") <= Similarity.K)
      .select("qid", "rid")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toSet
    val adc = graft.ext.Embeddings.pqTopK.fn(spark, sf)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toSet
    val rec = exact.intersect(adc).size.toDouble / exact.size
    assert(rec > 0.10, s"ADC recall $rec vs exact L2 not above floor")
  }

  test("jl_project matches a driver-side reference projection exactly") {
    val fns = org.apache.spark.sql.functions
    val scaled = Tables(spark, sf, "embeddings").limit(25)
      .select(fns.col("vec_id"), graft.ext.Embeddings.intScale(
        fns.col("embedding").cast("array<double>")).as("sc"))
    val p = Similarity.JlP
    def sign(j: Int, i: Int): Double = {
      val h0 = (i.toLong * 2654435761L + j.toLong * 40503L + 9973L) % 2147483647L
      val h1 = (h0 * h0 + i + j) % 2147483647L
      val h2 = (h1 * h1 + h0) % 2147483647L
      if ((h2 & 1L) == 0L) 1.0 else -1.0
    }
    val got = scaled.select(fns.col("vec_id"),
        graft.functions.VectorFunctions.jlProject(fns.col("sc"), p).as("y"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    scaled.collect().foreach { r =>
      val xs = r.getSeq[Double](1)
      val want = (0 until p).map(j =>
        xs.indices.map(i => sign(j, i) * xs(i)).sum)
      assert(got(r.getLong(0)) == want, s"vec ${r.getLong(0)}")
    }
  }

  test("JL ANN: a planted exact duplicate is always recalled at rank 1") {
    val fns = org.apache.spark.sql.functions
    val (q, r) = Similarity.split(spark, sf)
    // plant a copy of every query among the references: projection is
    // linear, so a duplicate's projected distance is exactly 0 — it
    // survives any candidate cut and reranks to the top (d=0, and its
    // rid sorts before any tied natural duplicate at +offset... the
    // planted rid wins ties only if no natural 0-distance pair exists
    // with a smaller rid, so assert on distance via rank-1 membership
    // of the planted rid OR an exact-duplicate rid)
    val offset = 10000000L
    val planted = q.select((fns.col("qid") + offset).as("rid"),
      fns.col("qe").as("re"))
    val top1 = Similarity.jlTopK(q, r.unionByName(planted), Similarity.K)
      .filter(fns.col("rank") === 1)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    val qs = q.select("qid").collect().map(_.getLong(0))
    // rank 1 must be at distance 0 from the query; the planted copy
    // guarantees such a row exists. Verify distance-0 by value equality.
    val vecs = Tables(spark, sf, "embeddings")
      .select(fns.col("vec_id"), graft.ext.Embeddings.intScale(
        fns.col("embedding").cast("array<double>")).as("sc"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    qs.foreach { id =>
      val got = top1(id)
      val gotVec = vecs(if (got >= offset) got - offset else got)
      assert(gotVec == vecs(id),
        s"query $id rank-1 $got is not an exact duplicate")
    }
  }

  test("JL ANN recall vs exact integer-L2 top-k is substantial") {
    val fns = org.apache.spark.sql.functions
    val (q, r) = Similarity.split(spark, sf)
    val qs = q.select(fns.col("qid"), graft.ext.Embeddings.intScale(
      fns.col("qe")).as("qs"))
    val rs = r.select(fns.col("rid"), graft.ext.Embeddings.intScale(
      fns.col("re")).as("sc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(fns.col("d").asc, fns.col("rid").asc)
    val exact = qs.crossJoin(rs)
      .withColumn("d", graft.functions.VectorFunctions.l2Sq(
        fns.col("qs"), fns.col("sc")))
      .withColumn("rk", fns.row_number().over(w))
      .filter(fns.col("rk") <= Similarity.K)
      .select("qid", "rid")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toSet
    val approx = Similarity.jlTopK(q, r, Similarity.K)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toSet
    val rec = recallVsBrute(approx, exact)
    // measured 0.54 at p=16, C=80 on this uniform-sphere worst case
    // (gaussian-plane parity — see JlProject's scaladoc); floor leaves
    // headroom for sf jitter while still catching a sign-quality
    // regression (the linear parity formula scored 0.3)
    assert(rec > 0.42, s"JL recall $rec below floor")
  }

  test("IVF-PQ: candidates honor the probe restriction; recall above floor") {
    val fns = org.apache.spark.sql.functions
    val rows = graft.ext.Embeddings.ivfPqTopK.fn(spark, sf)
      .collect().map(x => (x.getLong(0), x.getLong(2)))
    assert(rows.nonEmpty)
    // every returned rid must live in one of its query's probed cells —
    // the candidate restriction is the operator's contract (recompute
    // both assignments with the same argmin the plan uses)
    val (q, r) = Similarity.split(spark, sf)
    val qs = q.select(fns.col("qid"), graft.ext.Embeddings.intScale(
      fns.col("qe")).as("v"))
    val rs = r.select(fns.col("rid"), graft.ext.Embeddings.intScale(
      fns.col("re")).as("v"))
    val qt = rs.filter(fns.col("rid") % 16 === 0)
      .select(fns.col("rid").as("cid"), fns.col("v").as("ce"))
      .agg(fns.sort_array(fns.collect_list(
        fns.struct(fns.col("cid"), fns.col("ce")))).as("cents"))
    val assigned = rs.crossJoin(fns.broadcast(qt))
      .select(fns.col("rid"), graft.functions.VectorFunctions
        .l2Argmin(fns.col("v"), fns.col("cents")).as("cid"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val probed = qs.crossJoin(fns.broadcast(qt))
      .select(fns.col("qid"), graft.functions.VectorFunctions
        .l2ArgminTopK(fns.col("v"), fns.col("cents"), Similarity.IvfProbes)
        .as("cids"))
      .collect().map(x => x.getLong(0) -> x.getSeq[Long](1).toSet).toMap
    rows.foreach { case (qid, rid) =>
      assert(probed(qid).contains(assigned(rid)),
        s"rid $rid returned for qid $qid outside its probed cells")
    }
    // recall floor vs exact integer L2 — compounded coarse+PQ
    // approximation on the uniform-sphere worst case measured 0.17
    // (PQ-alone 0.19, chance 0.02); the floor pins "genuinely above
    // chance", not production recall (trained quantizers lift both
    // stages on clustered corpora)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(fns.col("d").asc, fns.col("rid").asc)
    val exact = qs.crossJoin(rs.withColumnRenamed("v", "rv"))
      .withColumn("d", graft.functions.VectorFunctions.l2Sq(
        fns.col("v"), fns.col("rv")))
      .withColumn("rk", fns.row_number().over(w))
      .filter(fns.col("rk") <= Similarity.K)
      .select("qid", "rid")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toSet
    val rec = recallVsBrute(rows.toSet, exact)
    assert(rec > 0.08, s"IVF-PQ recall $rec not above floor")
  }

  test("trained PQ codebooks strictly reduce reconstruction error") {
    val fns = org.apache.spark.sql.functions
    val scaled = Tables(spark, sf, "embeddings")
      .select(fns.col("vec_id"), graft.ext.Embeddings.intScale(
        fns.col("embedding").cast("array<double>")).as("sc"))
    val untrained = graft.ext.Embeddings.pqCodebook(scaled, "vec_id")
    val trained = graft.ext.Embeddings.pqCodebookTrained(scaled, "vec_id")
    val errU = graft.ext.Embeddings.pqReconstructionError(scaled, untrained)
    val errT = graft.ext.Embeddings.pqReconstructionError(scaled, trained)
    // Lloyd inits FROM the untrained books and never increases
    // distortion, so <= is a theorem; < is the data saying the means
    // actually moved
    assert(errT < errU, s"trained $errT !< untrained $errU")
  }

  test("bounded-heap top-k equals window top-k, row for row") {
    val (q, r) = Similarity.split(spark, sf)
    val heap = Similarity.bruteForceTopK(q, r, Similarity.K)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
    val window = Similarity.bruteForceTopKWindow(q, r, Similarity.K)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
    assert(heap == window)
    assert(heap.nonEmpty)
  }

  test("auto top-k rewrite equals the unrewritten window form on a hostile " +
      "domain: desc order, duplicate scores, nulls, small groups, " +
      "residual filter conjuncts") {
    import org.apache.spark.sql.expressions.Window
    val sp = spark
    import sp.implicits._
    // groups of very different sizes; v has nulls and heavy duplicates
    // so the heap's tie handling is exercised under a TOTAL order
    // (id breaks ties — without that row_number is nondeterministic
    // and no rewrite could promise equality)
    val df = (0 until 500).map { i =>
      (i % 7, if (i % 11 == 0) None else Some((i * i) % 13), i.toLong)
    }.toDF("g", "v", "id")
    val w = Window.partitionBy("g")
      .orderBy(col("v").desc_nulls_last, col("id").asc)
    def q() = df.withColumn("rank",
        org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rank") <= 3 && col("id") % 2 === 0)
    def got() = q().collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1),
        r.getLong(2), r.getInt(3))).toSet
    // k = 1 via equality predicate
    def q1() = df.withColumn("rank",
        org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rank") === 1).select("g", "id")
    // ORDER BY includes the PARTITION column (constant per group →
    // an extra heap slot, not a payload slot): equality must hold
    val wp = Window.partitionBy("g")
      .orderBy(col("g").desc, col("v").asc_nulls_last, col("id"))
    def qp() = df.withColumn("rank",
        org.apache.spark.sql.functions.row_number().over(wp))
      .filter(col("rank") <= 2)
    // degenerate shape: the window child is ONLY the partition column
    val wg = Window.partitionBy("g").orderBy(col("g"))
    def qg() = df.select("g").withColumn("rank",
        org.apache.spark.sql.functions.row_number().over(wg))
      .filter(col("rank") <= 2)
    // pagination (r12): the heap is sized by the upper bound, the
    // lower bound survives as a residual over the rebuilt rank
    def page() = df.withColumn("rank",
        org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rank") <= 5 && col("rank") > 2)
    // controls: every shape with the rule excluded
    val control = got()
    assert(control.nonEmpty)
    val c1 = q1().collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val cp = qp().collect().map(_.toSeq).toSet
    val cg = qg().collect().map(_.toSeq).toSet
    val pageControl = page().collect().map(_.toSeq).toSet
    withRules(graft.plans.TopKRewrite) {
      val plan = q().queryExecution.optimizedPlan.toString
      assert(plan.contains("row_topk") && !plan.contains("window"),
        "rewrite must fire:\n" + plan.take(1200))
      assert(got() == control,
        s"missing=${(control -- got()).take(3)} extra=${(got() -- control).take(3)}")
      assert(q1().collect().map(r => (r.getInt(0), r.getLong(1))).toSet == c1)
      assert(qp().queryExecution.optimizedPlan.toString.contains("row_topk"))
      assert(qp().collect().map(_.toSeq).toSet == cp)
      assert(qg().collect().map(_.toSeq).toSet == cg)
      // rank() routes to the TIE-KEEPING aggregate (r11), never the
      // arbitrary-subset heap — ties share ranks
      val rk = df.withColumn("rank",
          org.apache.spark.sql.functions.rank().over(w))
        .filter(col("rank") <= 3)
      assert(!rk.queryExecution.optimizedPlan.toString.contains("row_topk"),
        "rank() must take rank_topk, not the row_number heap")
      val pStr = page().queryExecution.optimizedPlan.toString
      assert(pStr.contains("row_topk") && pStr.contains("rank") &&
        pStr.contains("> 2"), "pagination must rewrite with a residual:\n" +
        pStr.take(1200))
      assert(page().collect().map(_.toSeq).toSet == pageControl)
    }
  }

  test("topk_cosine_auto (window form + rewrite) equals the hand-built " +
      "bounded-heap key") {
    val auto = withRules(graft.plans.TopKRewrite)(
      graft.ext.Similarity.topkCosineAuto.fn(spark, sf).collect()
        .map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet)
    val hand = graft.ext.Similarity.topkCosine.fn(spark, sf)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
    assert(auto == hand)
    assert(auto.nonEmpty)
  }

  test("brute-force top-k: rank 1 of a reference vector vs itself is itself") {
    val (_, r) = Similarity.split(spark, sf)
    val self = r.limit(20).select(col("rid").as("qid"), col("re").as("qe"))
    val top1 = Similarity.bruteForceTopK(self, r, 1)
      .collect().map(x => x.getLong(0) -> x.getLong(2))
    assert(top1.forall { case (q, rid) => q == rid })
  }

  // --- text analysis --------------------------------------------------

  test("quality_score: trained perceptron separates the training set, " +
      "holds a held-out accuracy floor, and the Spark pipeline agrees " +
      "with the JVM scorer") {
    def jvmScore(t: String): Long =
      TextAnalysis.qsFeatures(t).zip(TextAnalysis.qsWeights)
        .map { case (f, w) => f * w }.sum
    // training set: the integer perceptron must fully separate it
    // (otherwise the embedded model is underfit and the key is luck)
    TextAnalysis.qsTrainPos.foreach(t =>
      assert(jvmScore(t) > 0, s"train pos misclassified: ${t.take(40)}"))
    TextAnalysis.qsTrainNeg.foreach(t =>
      assert(jvmScore(t) <= 0, s"train neg misclassified: ${t.take(40)}"))
    // held-out floor: at least 9/10 (regression gate on model quality)
    val correct = TextAnalysis.qsHeldout.count { case (t, good) =>
      (jvmScore(t) > 0) == good }
    assert(correct >= 9, s"held-out accuracy $correct/10 below floor")
    // the Spark column pipeline computes the same integer score as the
    // JVM trainer's feature path (ASCII inputs)
    val sp = spark
    import sp.implicits._
    val df = (TextAnalysis.qsHeldout.map(_._1) ++ Seq("", "   ", "x"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = TextAnalysis.qualityScoreOf(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (TextAnalysis.qsHeldout.map(_._1) ++ Seq("", "   ", "x"))
      .zipWithIndex.foreach { case (t, i) =>
        assert(got(i.toLong) == jvmScore(t),
          s"spark=${got(i.toLong)} jvm=${jvmScore(t)} for: ${t.take(40)}")
      }
  }

  test("lang_id is deterministic and total") {
    val a = TextAnalysis.langId.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = TextAnalysis.langId.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
    assert(a.values.toSet.subsetOf(Set("en", "es", "de", "fr", "zh")))
    assert(TextAnalysis.langIdOf("这是中文文本") == "zh")
    assert(TextAnalysis.langIdOf("der schnelle braune fuchs und ich") == "de")
  }

  test("lang_id trigram profile: accuracy floor on held-out sentences") {
    // none of these sentences appear in TextAnalysis.langSamples — the
    // profile has to generalize from trigram statistics, not memorize
    val planted = Seq(
      "the weather report said that it would rain for most of the week" -> "en",
      "she was reading another book about the history of modern science" -> "en",
      "what do you think about the results of the latest experiments" -> "en",
      "la casa estaba cerca de la playa y tenía una vista preciosa del mar" -> "es",
      "los niños jugaban en el parque mientras sus padres hablaban" -> "es",
      "necesito comprar algunas cosas para la cena de esta noche" -> "es",
      "die kinder spielten im garten während ihre eltern in der küche waren" -> "de",
      "ich möchte nächste woche mit dem zug nach berlin fahren" -> "de",
      "das wetter war heute schön und wir sind lange spazieren gegangen" -> "de",
      "les enfants jouaient dans le jardin pendant que leurs parents parlaient" -> "fr",
      "je voudrais acheter quelque chose pour le dîner de ce soir" -> "fr",
      "il faisait très beau aujourd'hui et nous avons marché longtemps" -> "fr",
      "今天的天气很好我们去公园散步了" -> "zh")
    val correct = planted.count { case (text, want) =>
      TextAnalysis.langIdOf(text) == want }
    assert(correct >= planted.size - 1,
      s"lang_id got only $correct/${planted.size} held-out sentences right")
  }

  test("fingerprint: stable on same text, sensitive to word order") {
    assert(TextAnalysis.fingerprintOf("a b c") ==
      TextAnalysis.fingerprintOf("a b c"))
    assert(TextAnalysis.fingerprintOf("a b c") !=
      TextAnalysis.fingerprintOf("c b a"))
    val fps = TextAnalysis.fingerprint.fn(spark, sf).collect()
    assert(fps.length == Tables(spark, sf, "documents").count())
  }

  // --- multimodal -----------------------------------------------------

  test("real codec round-trips a planted image: PNG exact, JPEG invariants") {
    // planted 5x3 image with known pixels
    val px = Array.tabulate(15)(i => (i * 17 + 3) << 8 | i)
    val planted = ImageCodec.DecodedImage(5, 3, 3, px)
    val png = ImageCodec.encodePng(planted)
    val back = ImageCodec.decode(png)
    assert(back.width == 5 && back.height == 3 && back.channels == 3)
    // PNG is lossless: ARGB round-trips bit-exact (encode sets RGB, so
    // compare the low 24 bits; decode reports opaque alpha)
    assert(back.argb.map(_ & 0xFFFFFF).toSeq == px.map(_ & 0xFFFFFF).toSeq)
    // JPEG through the same decode entry point: dimension + channel
    // invariants hold (pixels are lossy by nature, never pinned)
    val img = new java.awt.image.BufferedImage(5, 3,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 5, 3, px, 0, 5)
    val jout = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", jout))
    val jback = ImageCodec.decode(jout.toByteArray)
    assert(jback.width == 5 && jback.height == 3 && jback.channels == 3)
    // undecodable bytes fail loudly, not silently
    intercept[IllegalArgumentException](
      ImageCodec.decode(Array[Byte](1, 2, 3)))
    ()
  }

  test("GIF demux round-trips every frame bit-exactly") {
    val frames = ImageCodec.renderGifFrames(13L, "planted".getBytes)
    val gif = ImageCodec.encodeGif(frames)
    val back = ImageCodec.decodeFrames(gif)
    assert(back.length == frames.length && frames.length >= 2)
    frames.zip(back).foreach { case (a, b) =>
      assert(a.width == b.width && a.height == b.height)
      // indexed-palette pre-quantization makes the GIF lossless: the
      // demuxed rasters match the rendered ones bit for bit
      assert(b.argb.map(_ & 0xFFFFFF).toSeq == a.argb.map(_ & 0xFFFFFF).toSeq)
    }
    // the query face: one row per demuxed frame, count from the stream
    val rows = Multimodal.videoFrames.fn(spark, sf).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.keySet.size == Tables(spark, sf, "documents").count())
    byDoc.foreach { case (id, fs) =>
      assert(fs.length == 2 + Math.floorMod(id, 4L).toInt,
        s"doc $id expected ${2 + Math.floorMod(id, 4L)} frames, got ${fs.length}")
    }
  }

  test("AVI demux round-trips every frame bit-exactly") {
    import graft.ext.VideoCodec
    val frames = VideoCodec.renderAviFrames(29L, "planted".getBytes)
    val avi = VideoCodec.encodeAvi(frames)
    // genuine RIFF/AVI container bytes
    assert(new String(avi.take(4), "US-ASCII") == "RIFF")
    assert(new String(avi.slice(8, 12), "US-ASCII") == "AVI ")
    val back = VideoCodec.decodeAviFrames(avi)
    assert(back.length == frames.length && frames.length >= 2)
    frames.zip(back).foreach { case (a, b) =>
      assert(a.width == b.width && a.height == b.height)
      // uncompressed DIB: no quantization anywhere — full 24-bit
      // rasters match bit for bit
      assert(b.argb.toSeq == a.argb.toSeq)
    }
    // the query face: one row per demuxed frame, count from the stream
    val rows = Multimodal.aviFrames.fn(spark, sf).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.keySet.size == Tables(spark, sf, "documents").count())
    byDoc.foreach { case (id, fs) =>
      assert(fs.length == 2 + Math.floorMod(id, 3L).toInt,
        s"doc $id expected ${2 + Math.floorMod(id, 3L)} frames, got ${fs.length}")
    }
  }

  test("MJPEG AVI: compressed frames demux, decode to header dims, and " +
      "approximate the source within a JPEG error bound") {
    import graft.ext.VideoCodec
    val frames = VideoCodec.renderMjpegFrames(41L, "planted".getBytes)
    val avi = VideoCodec.encodeAviMjpeg(frames)
    assert(new String(avi.take(4), "US-ASCII") == "RIFF")
    assert(new String(avi.slice(8, 12), "US-ASCII") == "AVI ")
    // the stream really is compressed: MJPG fourcc present, and the
    // container is smaller than the raw raster bytes it carries
    assert(new String(avi, "ISO-8859-1").contains("MJPG"))
    val rawBytes = frames.map(f => f.width * f.height * 3L).sum
    assert(avi.length < rawBytes,
      s"MJPEG not compressed: ${avi.length} >= $rawBytes raw")
    val back = VideoCodec.decodeAviFrames(avi)
    assert(back.length == frames.length && frames.length >= 2)
    frames.zip(back).foreach { case (a, b) =>
      assert(a.width == b.width && a.height == b.height)
      // JPEG is lossy: on the smooth gradient content the codec is
      // built for, mean per-channel error stays single-digit
      var err = 0L
      var i = 0
      while (i < a.argb.length) {
        val pa = a.argb(i); val pb = b.argb(i)
        err += math.abs(((pa >> 16) & 0xFF) - ((pb >> 16) & 0xFF)) +
          math.abs(((pa >> 8) & 0xFF) - ((pb >> 8) & 0xFF)) +
          math.abs((pa & 0xFF) - (pb & 0xFF))
        i += 1
      }
      // measured ~5.7 at quality 0.9 (4:2:0 chroma subsampling on the
      // color gradients dominates); 8 is the loud-failure ceiling
      val mean = err.toDouble / (a.argb.length * 3)
      assert(mean < 8.0, s"mean JPEG channel error $mean too high")
    }
    // decode determinism (what the oracle contract rests on): decoding
    // the same bytes twice yields identical rasters
    val again = VideoCodec.decodeAviFrames(avi)
    back.zip(again).foreach { case (x, y) =>
      assert(x.argb.toSeq == y.argb.toSeq) }
    // the query face: one row per demuxed frame, count from the stream
    val rows = Multimodal.mjpegFrames.fn(spark, sf).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.keySet.size == Tables(spark, sf, "documents").count())
    byDoc.foreach { case (id, fs) =>
      assert(fs.length == 2 + Math.floorMod(id, 3L).toInt,
        s"doc $id expected ${2 + Math.floorMod(id, 3L)} frames, got ${fs.length}")
    }
  }

  test("WAV codec round-trips PCM16 samples bit-exactly") {
    import graft.ext.AudioCodec
    val samples = Array.tabulate(777)(i =>
      ((i * 131) % 30000 - 15000).toShort)
    val wav = AudioCodec.encodeWav(samples)
    val back = AudioCodec.decodeWav(wav)
    assert(back.sampleRate == 8000 && back.channels == 1 &&
      back.sampleBits == 16)
    assert(back.samples.toSeq == samples.toSeq, "WAV PCM must be lossless")
    // the query face: one row per doc, format + waveform stats
    val rows = Multimodal.audio.fn(spark, sf).collect()
    assert(rows.length == Tables(spark, sf, "documents").count())
    rows.foreach { r =>
      assert(r.getInt(1) == 8000 && r.getInt(2) == 1)
      val id = r.getLong(0)
      assert(r.getLong(3) == 400 + Math.floorMod(id, 400L)) // n_frames
      assert(r.getInt(5) > 0 && r.getLong(6) > 0) // peak, rms
    }
  }

  test("decode query runs the real codec over real PNG payloads") {
    val rows = Multimodal.decode.fn(spark, sf).collect()
    assert(rows.length == Tables(spark, sf, "documents").count())
    rows.foreach { r =>
      val (w, h, ch) = (r.getInt(1), r.getInt(2), r.getInt(3))
      // renderPng dims: w in [16, 32], h in [16, 28]; PNG decodes RGB
      assert(w >= 16 && w <= 32 && h >= 16 && h <= 28 && ch == 3)
      // position-weighted sum dominates the plain sum for any
      // non-empty raster (weights are 1..n)
      assert(r.getLong(4) > 0 && r.getLong(5) >= r.getLong(4))
    }
    // the digest face still carries payload sizes + full pixel digests
    val digs = Multimodal.decodeDigest(spark, sf).collect()
    assert(digs.length == rows.length)
    digs.foreach { r =>
      assert(r.getInt(1) > 0) // real encoded payload bytes
      assert(r.getString(5).length == 64) // full sha-256 pixel digest
    }
    // resize reports the same source dims as decode
    val rs = Multimodal.resize.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    val dec = rows.map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(rs == dec)
    // nearest-neighbor resize is deterministic and dimension-exact
    val d = ImageCodec.decode(ImageCodec.renderPng(7L, "x".getBytes))
    val t1 = ImageCodec.resizeNearest(d, 8, 8)
    assert(t1.width == 8 && t1.height == 8 &&
      ImageCodec.pixelSha(t1) == ImageCodec.pixelSha(
        ImageCodec.resizeNearest(d, 8, 8)))
  }

  test("featurize emits unit-norm fixed-width vectors usable by similarity ops") {
    val feats = Multimodal.featurizeFrame(spark, sf)
    val rows = feats.collect()
    assert(rows.length == Tables(spark, sf, "documents").count())
    rows.take(50).foreach { r =>
      val v = r.getSeq[Float](1)
      assert(v.length == 16)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      assert(math.abs(norm - 1.0) < 1e-3, s"norm $norm")
    }
    // the extracted vectors flow into the standard top-k operator
    val q = feats.limit(5).selectExpr("doc_id AS qid",
      "CAST(feature AS array<double>) AS qe")
    val r = feats.selectExpr("doc_id AS rid", "CAST(feature AS array<double>) AS re")
    val top1 = Similarity.bruteForceTopK(q, r, 1)
      .collect().map(x => x.getLong(0) -> x.getLong(2))
    assert(top1.forall { case (a, b) => a == b }, "self is nearest")
  }

  test("frame sampling emits every 2nd 64-byte window") {
    val n = Multimodal.frames.fn(spark, sf)
      .filter(col("doc_id") === 0).count()
    val len = Tables(spark, sf, "documents")
      .filter(col("doc_id") === 0).select(length(col("text")))
      .collect().head.getInt(0)
    val windows = (len + 63) / 64
    assert(n == (windows + 1) / 2)
  }

  // --- embedding preprocessing + curation -----------------------------

  test("int8 quantization bounds per-component error by half a step") {
    import org.apache.spark.sql.types._
    val emb = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
    val joined = emb
      .join(SparkEntry.queries("embedding_quantize_int8")(spark, sf), "vec_id")
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val e = r.getSeq[Double](1)
      val scale = r.getLong(2) / 1e6
      val qs = r.getString(3).split(",").map(_.toLong)
      assert(qs.length == e.length)
      assert(qs.forall(v => v >= -127 && v <= 127))
      e.zip(qs).foreach { case (x, v) =>
        assert(math.abs(v * scale / 127 - x) <= scale / 127 / 2 + 1e-6,
          s"vec ${r.getLong(0)}: $x quantized to $v at scale $scale")
      }
    }
  }

  test("normalized embeddings are unit length at the pinned resolution") {
    val rows = SparkEntry.queries("embedding_normalize")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val u = r.getString(1).split(",").map(_.toLong / 1e6)
      val n = math.sqrt(u.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-3, s"vec ${r.getLong(0)} norm $n")
    }
  }

  test("corpus_curate output is exact- and near-dup free, nonempty") {
    val docs = Tables(spark, sf, "documents")
    val corpus = Dedup.plantedCorpus(docs).unionAll(
      docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"), col("text")))
    val kept = SparkEntry.queries("corpus_curate")(spark, sf)
    val keptDocs = corpus.join(kept, "doc_id")
    val nKept = kept.count()
    assert(nKept > 0)
    // every exact-copy group collapsed: texts are unique
    assert(keptDocs.select("text").distinct().count() == nKept)
    // pairwise near-dup free at the curation threshold: components keep
    // one doc each, and cross-component pairs have no edge by definition
    assert(Dedup.jaccardPairs(Dedup.shingleSets(keptDocs)).count() == 0)
  }

  test("chunking covers every document end-to-end with stride overlap") {
    import graft.ext.Chunking.{ChunkStride, ChunkTokens}
    val chunks = SparkEntry.queries("chunk_documents")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .groupBy(_._1)
    val nTokens = Tables(spark, sf, "documents")
      .select(col("doc_id"), size(TextAnalysis.tokens(col("text"))).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chunks.nonEmpty)
    chunks.foreach { case (doc, cs) =>
      val n = nTokens(doc)
      // chunk k starts at k*stride; the furthest end must hit n exactly
      assert(cs.map { case (_, k, len) => k * ChunkStride + len }.max == n,
        s"doc $doc: chunks do not reach token $n")
      assert(cs.forall(_._3 >= 1))
      // consecutive chunks overlap by size - stride
      val idxs = cs.map(_._2).sorted
      assert(idxs.head == 0 && idxs.last == idxs.length - 1,
        s"doc $doc: chunk indices not contiguous")
      if (idxs.length > 1) assert(ChunkTokens > ChunkStride)
    }
  }

  test("containment catches a short doc embedded in a long one; jaccard misses it") {
    val sp = spark
    import sp.implicits._
    val words = (1 to 40).map(i => s"w$i")
    val long = words.mkString(" ")               // 40 words, 37 shingles
    val short = words.take(8).mkString(" ")      // 8 words, 5 shingles ⊂ long
    val docs = Seq((1L, long), (2L, short)).toDF("doc_id", "text")
    val sh = Dedup.shingleSets(docs)
    // jaccard: J = 5/37 — far below the 0.5 gate
    assert(Dedup.jaccardPairs(sh).count() == 0,
      "jaccard should not fire on an asymmetric pair")
    val c = Dedup.containmentPairs(sh).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    // short→long containment is exactly 1 (1e6 ppm); the reverse
    // direction is 5/37 and must NOT fire
    assert(c == Set((2L, 1L, 1000000L)),
      s"expected only short→long at 1e6 ppm, got $c")
  }

  // --- hybrid retrieval ----------------------------------------------

  test("RRF fusion: integer scores, contiguous ranks, both channels heard") {
    import graft.ext.Retrieval
    val fused = Retrieval.hybridRrf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(fused.nonEmpty)
    // per query: ranks are exactly 1..k and scores non-increasing
    fused.groupBy(_._1).foreach { case (qid, rows) =>
      val byRank = rows.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1 to byRank.length),
        s"qid $qid: ranks not contiguous")
      assert(byRank.sliding(2).forall {
        case Array(a, b) => a._4 >= b._4; case _ => true },
        s"qid $qid: rrf_fp not non-increasing with rank")
    }
    // every fused score is a sum of the exact per-channel reciprocals —
    // possible values are bounded by the two-channel maximum and the
    // single-channel minimum floor
    val maxFp = 2 * (Retrieval.RrfScale / (Retrieval.RrfK0 + 1))
    val minFp = Retrieval.RrfScale / (Retrieval.RrfK0 + Retrieval.HybridK)
    assert(fused.forall(r => r._4 >= minFp && r._4 <= maxFp))
    // a doc ranked by BOTH channels must outscore the best possible
    // single-channel doc: witnessed if any score exceeds the
    // single-channel maximum
    val singleMax = Retrieval.RrfScale / (Retrieval.RrfK0 + 1)
    assert(fused.exists(_._4 > singleMax),
      "no doc fused from both channels — channel alignment broken?")
  }

  test("er_blocked_match recovers every planted corruption (recall 1.0)") {
    val got = graft.ext.EntityResolution.erMatchOf(
      Tables(spark, sf, "customer")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val planted = Tables(spark, sf, "customer")
      .filter(org.apache.spark.sql.functions.col("c_custkey") % 4 === 0)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(planted.nonEmpty)
    // every planted dirty record links back to its own clean twin...
    planted.foreach { ck =>
      assert(got.exists(m => m._1 == ck + 10000000L && m._2 == ck),
        s"planted pair for customer $ck not recovered")
    }
    // ...at the exact one-substitution distance
    got.filter(m => m._1 - 10000000L == m._2)
      .foreach(m => assert(m._3 == 1, s"twin pair at distance ${m._3}"))
  }

  test("copurchase_topk_similar: ranks contiguous, counts non-increasing, " +
      "symmetric co-counts") {
    val rows = graft.ops.Triangles.copurchaseTopK.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (p, ts) =>
      val byRank = ts.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1 to ts.length),
        s"part $p ranks not contiguous")
      val ns = byRank.map(_._4)
      assert(ns.zip(ns.tail).forall { case (a, b) => a >= b },
        s"part $p counts increase along ranks")
      assert(ts.forall(_._3 != p), s"part $p is its own neighbor")
    }
    // co-purchase counts are symmetric: if (a,b,n) ranks for a and b
    // also ranks a, both see the same n
    val asMap = rows.map(t => (t._1, t._3) -> t._4).toMap
    asMap.foreach { case ((a, b), n) =>
      asMap.get((b, a)).foreach(n2 => assert(n == n2, s"asym ($a,$b)"))
    }
  }

  test("boilerplate removal drops planted footers, leaves clean docs verbatim") {
    import graft.ext.TextAnalysis.{Footer1, Footer2}
    val out = graft.ext.TextAnalysis.boilerplate.fn(spark, sf)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    val orig = Tables(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == orig.keySet, "every doc must survive")
    out.foreach { case (id, (nLines, nRemoved, clean)) =>
      val expectRemoved =
        (if (id % 3 == 0) 1 else 0) + (if (id % 5 == 0) 1 else 0)
      assert(nRemoved == expectRemoved,
        s"doc $id removed $nRemoved lines, expected $expectRemoved")
      assert(!clean.contains(Footer1) && !clean.contains(Footer2),
        s"doc $id still carries a footer")
      // reassembly preserves the original token stream exactly (the
      // planted '. ' window separators collapse back to whitespace)
      val cleanToks = clean.split("\\. ").flatMap(_.split("\\s+"))
        .filter(_.nonEmpty).toSeq
      val origToks = orig(id).trim.split("\\s+").filter(_.nonEmpty).toSeq
      assert(cleanToks == origToks, s"doc $id token stream altered")
      assert(nLines == (origToks.size + 9) / 10 + expectRemoved)
    }
  }

  test("html strip recovers the wrapped text exactly and counts the " +
      "skeleton's tags") {
    import org.apache.spark.sql.functions.col
    val orig = Tables(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = ext.TextAnalysis.htmlStrip.fn(spark, sf).collect()
    assert(out.length == orig.size)
    out.foreach { r =>
      val (id, clean, nTags) = (r.getLong(0), r.getString(1), r.getLong(2))
      val expect = orig(id).trim.replaceAll("\\s+", " ") +
        " home & about <here>"
      assert(clean == expect, s"doc $id strip mismatch")
      // fixed page skeleton: html, body, comment, p, /p, div, /div,
      // /body, /html — 9 matches of <[^>]*> (word-soup text has no '<')
      assert(nTags == 9L, s"doc $id tag count $nTags")
    }
  }

  test("token drift: ppm bounded, ordering total, counts consistent " +
      "with a recount") {
    import org.apache.spark.sql.functions.col
    val sp = spark
    val rows = ext.Corpus.tokenDriftOf(
      Tables(spark, sf, "documents"), col("source") === "src0").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    // frequencies are ppm of each side's total: never above 1e6
    rows.foreach { case (tok, ca, cb, fa, fb, d) =>
      assert(fa >= 0 && fa <= 1000000 && fb >= 0 && fb <= 1000000)
      assert(d == math.abs(fa - fb), s"$tok drift not |fa-fb|")
      assert(ca > 0 || cb > 0)
    }
    // emitted in total (drift desc, token asc) order
    assert(rows.sliding(2).forall {
      case Array((t1, _, _, _, _, d1), (t2, _, _, _, _, d2)) =>
        d1 > d2 || (d1 == d2 && t1 < t2)
      case _ => true
    })
    // per-token counts replay an independent recount
    val docs = Tables(spark, sf, "documents")
      .select("source", "text").collect()
    val recount = scala.collection.mutable.Map
      .empty[String, (Long, Long)].withDefaultValue((0L, 0L))
    docs.foreach { r =>
      val a = r.getString(0) == "src0"
      r.getString(1).trim.split("\\s+").filter(_.nonEmpty).foreach { t =>
        val (x, y) = recount(t)
        recount(t) = if (a) (x + 1, y) else (x, y + 1)
      }
    }
    rows.foreach { case (tok, ca, cb, _, _, _) =>
      assert(recount(tok) == ((ca, cb)), s"$tok counts diverge")
    }
  }

  test("phash dedup: banded pairs equal brute force; every planted twin " +
      "recovered at hamming 0") {
    val payloads = ext.Multimodal.phashPayloads(spark, sf)
    val sigs = ext.Multimodal.phashBandsOf(payloads)
    val banded = ext.Multimodal.phashPairs(sigs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over the (small) signature table
    val sv = sigs.collect()
      .map(r => r.getLong(0) -> Seq(r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4)))
    val brute = (for {
      (a, ba) <- sv; (b, bb) <- sv if a < b
      h = ba.zip(bb).map { case (x, y) =>
        java.lang.Integer.bitCount(x ^ y) }.sum
      if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(banded == brute,
      s"banding lost/invented pairs: missing=${(brute -- banded).take(3)} extra=${(banded -- brute).take(3)}")
    // twins perturb only pixels the 8x8 floor sampling never reads, so
    // each (id, id+1e9) pair is hamming 0 by construction
    val twinIds = payloads.select("doc_id").collect().map(_.getLong(0))
      .filter(id => id >= 1000000000L).toSeq
    assert(twinIds.nonEmpty)
    twinIds.foreach { t =>
      assert(banded.contains((t - 1000000000L, t, 0L)),
        s"planted twin pair for ${t - 1000000000L} not recovered")
    }
  }

  test("awhash dedup: banded pairs equal brute force; twins differ in " +
      "bytes yet hash identically") {
    val payloads = ext.Multimodal.awhashPayloads(spark, sf)
    val sigs = ext.Multimodal.awhashBandsOf(payloads)
    val banded = ext.Multimodal.phashPairs(sigs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sv = sigs.collect()
      .map(r => r.getLong(0) -> Seq(r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4)))
    val brute = (for {
      (a, ba) <- sv; (b, bb) <- sv if a < b
      h = ba.zip(bb).map { case (x, y) =>
        java.lang.Integer.bitCount(x ^ y) }.sum
      if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(banded == brute,
      s"banding lost/invented pairs: missing=${(brute -- banded).take(3)} extra=${(banded -- brute).take(3)}")
    // the +1/-1 same-frame tweak keeps every frame energy exact: twins
    // are hamming 0 even though their payload bytes differ
    val byId = payloads.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val twinIds = byId.keys.filter(_ >= 1000000000L).toSeq
    assert(twinIds.nonEmpty)
    var perturbed = 0
    twinIds.foreach { t =>
      assert(banded.contains((t - 1000000000L, t, 0L)),
        s"planted audio twin for ${t - 1000000000L} not recovered")
      if (!java.util.Arrays.equals(byId(t), byId(t - 1000000000L)))
        perturbed += 1
    }
    // near-dups, not copies: the tweak must have applied to (nearly)
    // every twin — a sine+noise render always has an adjacent
    // same-sign in-frame pair
    assert(perturbed == twinIds.size,
      s"only $perturbed/${twinIds.size} twins actually perturbed")
  }

  test("vhash dedup: banded pairs equal brute force; video twins differ " +
      "in EVERY frame yet keyframe-hash identically") {
    val payloads = ext.Multimodal.vhashPayloads(spark, sf)
    val sigs = ext.Multimodal.vhashBandsOf(payloads)
    val banded = ext.Multimodal.phashPairs(sigs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sv = sigs.collect()
      .map(r => r.getLong(0) -> Seq(r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4)))
    val brute = (for {
      (a, ba) <- sv; (b, bb) <- sv if a < b
      h = ba.zip(bb).map { case (x, y) =>
        java.lang.Integer.bitCount(x ^ y) }.sum
      if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(banded == brute,
      s"banding lost/invented pairs: missing=${(brute -- banded).take(3)} extra=${(banded -- brute).take(3)}")
    val byId = payloads.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val twinIds = byId.keys.filter(_ >= 1000000000L).toSeq
    assert(twinIds.nonEmpty)
    twinIds.foreach { t =>
      assert(banded.contains((t - 1000000000L, t, 0L)),
        s"planted video twin for ${t - 1000000000L} not recovered")
      // a genuine near-dup: every frame's raster changed, not just the
      // container bytes
      val fa = ext.VideoCodec.decodeAviFrames(byId(t - 1000000000L))
        .map(f => ext.ImageCodec.pixelSha(f))
      val fb = ext.VideoCodec.decodeAviFrames(byId(t))
        .map(f => ext.ImageCodec.pixelSha(f))
      assert(fa.length == fb.length)
      fa.zip(fb).zipWithIndex.foreach { case ((x, y), i) =>
        assert(x != y, s"twin of ${t - 1000000000L}: frame $i unchanged")
      }
    }
  }

  test("dist_drift_ks: identical slices score 0, disjoint ranges score " +
      "1e6 ppm, and the statistic replays by hand on a small case") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val ksSeq = new java.util.concurrent.atomic.AtomicInteger
    def ks(df: org.apache.spark.sql.DataFrame): Long = {
      // re-point the QueryDef's source at a temp docs table — a FRESH
      // dir per call (Tables caches scans by path)
      val dir = graft.Work.scratch(s"ksdrift_${ksSeq.incrementAndGet()}")
      graft.Work.clean(dir)
      df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = graft.ops.Quality.ksDrift.fn(spark, dir).collect()(0)
      graft.Work.clean(dir)
      out.getLong(2)
    }
    // identical distributions across slices: D = 0 (14 docs, ids 0..13;
    // the %7 slice {0,7} has the same word counts {1,3} as planted)
    val same = (0 until 14).map { i =>
      (i.toLong, Seq.fill(if (i % 2 == 0) 1 else 3)("w").mkString(" "))
    }.toDF("doc_id", "text")
    // %7 slice = {0, 7}: doc 0 has 1 token, doc 7 has 3 — rest is half
    // 1-token, half 3-token as well => ECDFs identical => 0
    assert(ks(same) == 0L)
    // disjoint supports: slice docs have 1-2 tokens, rest 10-11 => D = 1
    val disjoint = (0 until 14).map { i =>
      val n = if (i % 7 == 0) 1 + (i % 2) else 10 + (i % 2)
      (i.toLong, Seq.fill(n)("w").mkString(" "))
    }.toDF("doc_id", "text")
    assert(ks(disjoint) == 1000000L)
    // hand case: A = {1,1}, B = {1,2,2,2} over token counts
    //   value 1: ECDF_A = 2/2, ECDF_B = 1/4 -> |2*4 - 1*2| = 6; D*nAnB max = 6
    //   ks_ppm = 6 * 1e6 div 8 = 750000
    val hand = Seq(
      (0L, "w"), (7L, "w"),
      (1L, "w"), (2L, "w w"), (3L, "w w"), (4L, "w w")
    ).toDF("doc_id", "text")
    assert(ks(hand) == 750000L)
  }

  test("blank-image filter: planted constant-color images flag, noise " +
      "renders never do, spread is exact") {
    val rows = graft.ext.Multimodal.blankFilter.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getBoolean(4)))
    assert(rows.length == Tables(spark, sf, "documents").count())
    rows.foreach { case (id, spread, blank) =>
      if (id % 17 == 0)
        assert(blank && spread == 0L, s"planted blank $id: spread=$spread")
      else
        assert(!blank &&
          spread > graft.ext.Multimodal.BlankSpreadMax,
          s"noise render $id flagged blank (spread=$spread)")
    }
    assert(rows.count(_._3) > 0, "no planted blanks present")
  }

  test("silence filter: planted all-zero clips flag, rendered audio " +
      "never does, peak is exact") {
    val rows = graft.ext.Multimodal.silenceFilter.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    assert(rows.length == Tables(spark, sf, "documents").count())
    rows.foreach { case (id, peak, silent) =>
      if (id % 19 == 0)
        assert(silent && peak == 0L, s"planted silent $id: peak=$peak")
      else
        assert(!silent &&
          peak > graft.ext.Multimodal.SilencePeakMax,
          s"rendered clip $id flagged silent (peak=$peak)")
    }
    assert(rows.count(_._3) > 0, "no planted silent clips present")
  }

  test("PNG metadata strip: planted tEXt chunk removed, pixels " +
      "bit-identical, idempotent, hostile chunk stream fails loudly") {
    import graft.ext.ImageCodec
    val png = ImageCodec.renderPng(31L, "planted".getBytes)
    val dirty = ImageCodec.insertTextChunk(png, "comment", "src=31")
    // the dirty container still decodes to the SAME pixels
    assert(ImageCodec.pixelSha(ImageCodec.decode(dirty)) ==
      ImageCodec.pixelSha(ImageCodec.decode(png)))
    val (clean, n) = ImageCodec.stripTextChunks(dirty)
    assert(n == 1)
    assert(dirty.length - clean.length == 24 + "31".length)
    assert(ImageCodec.pixelSha(ImageCodec.decode(clean)) ==
      ImageCodec.pixelSha(ImageCodec.decode(png)))
    // idempotent: a pristine container loses nothing, byte-identical
    val (again, n2) = ImageCodec.stripTextChunks(clean)
    assert(n2 == 0 && again.toSeq == clean.toSeq)
    // hostile: a chunk length past the container must fail loudly
    val bad = dirty.clone()
    java.nio.ByteBuffer.wrap(bad).putInt(8 + 25, Int.MaxValue - 4)
    val e = intercept[IllegalArgumentException](
      ImageCodec.stripTextChunks(bad))
    assert(e.getMessage.contains("exceeds container"))
    intercept[IllegalArgumentException](
      ImageCodec.stripTextChunks("notapng".getBytes))
    ()
  }

  test("url canonicalization: every planted variant rule collapses, the " +
      "real query param keeps its URL distinct, keep rule is min doc_id") {
    // planted structure (UrlOps.plantedUrl): article = doc_id/3, variant
    // = doc_id%6 — even articles wear variants {0,1,2} (case, default
    // port, www+slash: all collapse), odd articles wear {3,4,5} where
    // v3 (utm+fragment) and v4 (http:80, host case) collapse but v5's
    // `?page=2` is a genuine param -> its own canonical URL
    val norm = graft.ext.UrlOps.urlNormalize.fn(spark, sf).collect()
    norm.foreach { r =>
      val canon = r.getAs[String]("url_canon")
      val host = r.getAs[String]("host")
      assert(canon.startsWith(host), s"canon must start with host: $r")
      assert(!canon.contains("://") && !canon.contains("#") &&
        !canon.contains("utm_") && !canon.contains(":443") &&
        !canon.contains(":80"), s"policy leak in canon: $canon")
      assert(host == host.toLowerCase(java.util.Locale.ROOT) &&
        !host.startsWith("www."), s"host not normalized: $host")
    }
    val byDoc = norm.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("url_canon")).toMap
    // full even-article group: all three variants one canonical URL
    val evenArt = byDoc.keys.filter(d => d % 6 == 0 && byDoc.contains(d + 1)
      && byDoc.contains(d + 2)).head
    assert(byDoc(evenArt) == byDoc(evenArt + 1) &&
      byDoc(evenArt) == byDoc(evenArt + 2), "variants 0/1/2 must collapse")
    // odd-article group: v3 == v4, v5 distinct with ?page=2 kept
    val oddArt = byDoc.keys.filter(d => d % 6 == 3 && byDoc.contains(d + 1)
      && byDoc.contains(d + 2)).head
    assert(byDoc(oddArt) == byDoc(oddArt + 1), "variants 3/4 must collapse")
    assert(byDoc(oddArt + 2) == byDoc(oddArt) + "?page=2",
      s"real param must survive distinctly: ${byDoc(oddArt + 2)}")
    // dedup groups: n_docs 3 for full even articles, keep = min doc_id
    val groups = graft.ext.UrlOps.urlDedup.fn(spark, sf).collect()
      .map(r => r.getAs[String]("url_canon") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("keep_doc_id"))).toMap
    assert(groups(byDoc(evenArt)) == ((3L, evenArt)))
    assert(groups(byDoc(oddArt)) == ((2L, oddArt)))
    assert(groups(byDoc(oddArt + 2))._1 == 1L)
  }

  test("DSIR: feature buckets are bag unigrams+bigrams under the " +
      "portable hash; weights are the exact integer dot product; the " +
      "sample is the total-ordered top-k") {
    import graft.ext.{Dsir, TextAnalysis}
    // bag semantics on a doc with a repeated token and a repeated bigram
    val bs = Dsir.featureBuckets("a b a b")
    assert(bs.length == 7) // 4 unigrams + 3 bigrams, occurrences kept
    def bk(f: String) = java.lang.Long.remainderUnsigned(
      TextAnalysis.tokenHash(f), Dsir.Buckets.toLong).toInt
    assert(bs.toSeq == Seq(bk("a"), bk("b"), bk("a"), bk("b"),
      bk("a b"), bk("b a"), bk("a b")))
    // engine weight == manual fold against the PUBLISHED ratio table
    val path = Dsir.ensureLogRatios(spark, sf)
    val lr = new Array[Long](Dsir.Buckets)
    spark.read.parquet(path).collect()
      .foreach(r => lr(r.getInt(0)) = r.getLong(1))
    val docs = Tables(spark, sf, "documents")
    val w = Dsir.weights(docs, lr).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val sample = docs.select("doc_id", "text").limit(5).collect()
    sample.foreach { r =>
      val manual = Dsir.featureBuckets(r.getString(1)).map(lr(_)).sum
      assert(w(r.getLong(0))._1 == manual, s"doc ${r.getLong(0)}")
    }
    // the selection face: exactly K rows, the K best by (weight desc,
    // doc_id asc), and deterministic across runs
    val s1 = graft.ext.Dsir.dsirSample.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(s1.length == Dsir.SampleK)
    val best = w.toSeq.map { case (id, (wf, _)) => (id, wf) }
      .sortBy { case (id, wf) => (-wf, id) }.take(Dsir.SampleK)
    assert(s1.sortBy(x => (-x._2, x._1)).toSeq == best)
    val s2 = graft.ext.Dsir.dsirSample.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(s2.toSeq == s1.toSeq)
  }

  test("incremental cross-corpus dedup equals the cross-slice " +
      "restriction of the full near-dup pair set") {
    import org.apache.spark.sql.functions.col
    val corpus = Dedup.plantedCorpus(Tables(spark, sf, "documents"))
    val off = Dedup.PlantedOffset
    val full = Dedup.jaccardPairs(Dedup.shingleSets(corpus)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cross = full.filter { case (a, b) => a < off && b >= off }
    assert(cross.nonEmpty, "planted recrawls must produce cross pairs")
    val got = Dedup.incrementalPairs(
        corpus.filter(col("doc_id") < off),
        corpus.filter(col("doc_id") >= off))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == cross,
      s"missing=${(cross -- got).take(3)} extra=${(got -- cross).take(3)}")
    // directionality: never a within-history or within-increment pair
    assert(got.forall { case (a, b) => a < off && b >= off })
  }

  test("published-history incremental dedup: fused == generic == " +
      "stored-index entry point, and a completed index is never " +
      "rewritten") {
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, sf, "documents")
    val corpus = Dedup.plantedCorpus(docs)
    val off = Dedup.PlantedOffset
    val inc = corpus.filter(col("doc_id") >= off)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getInt(4))).toSet
    val fused = rows(Dedup.incrementalPairsFused(corpus,
      col("doc_id") < off))
    assert(fused.nonEmpty, "planted recrawls must produce cross pairs")
    // choice pin: the one-corpus-scan fused spelling and the generic
    // two-frame union-with-tag spelling produce identical rows
    assert(fused == rows(Dedup.incrementalPairs(
      corpus.filter(col("doc_id") < off), inc)))
    // the production path: publish history once as ONE segment, join
    // the increment against the STORED tables — bit-equal to the
    // in-query spelling
    val path = Work.scratch("histidx_spec")
    Work.clean(path)
    Dedup.publishHistorySegment(spark, path, "hist",
      docs.select("doc_id", "text"))
    val pub = rows(Dedup.incrementalAgainstSegmentedIndex(spark, path, inc))
    assert(pub == fused, s"missing=${(fused -- pub).take(3)} " +
      s"extra=${(pub -- fused).take(3)}")
    // publish is _SUCCESS-gated: a second publish with DIFFERENT input
    // must be a no-op on a completed index
    Dedup.publishHistorySegment(spark, path, "hist",
      docs.limit(1).select("doc_id", "text"))
    assert(rows(Dedup.incrementalAgainstSegmentedIndex(spark, path, inc))
      == fused)
    // disjoint-id precondition (r15 ADVICE): with the debug check on,
    // an increment that reuses a history doc_id fails fast instead of
    // silently duplicating verify-side rows; a disjoint increment
    // still passes through the check unchanged
    spark.conf.set("spark.graft.dedup.checkDisjointIds", "true")
    try {
      val e = intercept[IllegalArgumentException](
        Dedup.incrementalAgainstSegmentedIndex(spark, path,
          corpus.filter(col("doc_id") < off).limit(3)))
      assert(e.getMessage.contains("overlap the"))
      assert(rows(Dedup.incrementalAgainstSegmentedIndex(spark, path, inc))
        == fused)
    } finally spark.conf.unset("spark.graft.dedup.checkDisjointIds")
    Work.clean(path)
    // bucketed layout (r16): the same one-segment publish re-laid-out
    // by compactSegments into CLUSTERED BY (doc_id) / (band, bucket)
    // stored tables — rows must be bit-identical to the plain path
    val bpath = Work.scratch("histidxb_spec")
    Work.clean(bpath)
    Dedup.publishHistorySegment(spark, bpath, "hist",
      docs.select("doc_id", "text"))
    val bseg = Dedup.compactSegments(spark, bpath, "bucketed",
      retire = false)
    assert(Dedup.activeSegments(bpath)
      .map(p => p.substring(p.lastIndexOf('/') + 1)) == Seq("seg_bucketed"),
      "the fold filter must hide the re-laid-out plain segment")
    assert(rows(Dedup.incrementalAgainstSegmentedIndex(spark, bpath, inc))
      == fused)
    // file economy: the pre-write repartition must land ONE file per
    // bucket, not one per (task, bucket) — the small-files explosion a
    // naive bucketBy write produces at crawl scale
    Seq("sh", "bb").foreach { sub =>
      val parts = new java.io.File(s"$bseg/$sub").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(parts <= Dedup.HistIdxBuckets,
        s"$sub wrote $parts part files for ${Dedup.HistIdxBuckets} buckets")
    }
    // segmented layout (r16): the daily-fold discipline — yesterday's
    // deduped increment becomes a new SEGMENT, today's increment joins
    // the union of all complete segments. Split the planted copies by
    // parity into two "days"; after day-1's fold, day-2's dedup must
    // equal the generic two-frame run over the concatenated history.
    val spath = Work.scratch("histidxseg_spec")
    Work.clean(spath)
    val inc1 = inc.filter((col("doc_id") - Dedup.PlantedOffset) % 2 === 0)
    val inc2 = inc.filter((col("doc_id") - Dedup.PlantedOffset) % 2 =!= 0)
    Dedup.publishHistorySegment(spark, spath, "day0",
      docs.select("doc_id", "text"))
    assert(rows(Dedup.incrementalAgainstSegmentedIndex(spark, spath, inc1))
      == rows(Dedup.incrementalPairs(corpus.filter(col("doc_id") < off),
        inc1)), "day-1 dedup against the base segment")
    Dedup.publishHistorySegment(spark, spath, "day1", inc1)
    assert(rows(Dedup.incrementalAgainstSegmentedIndex(spark, spath, inc2))
      == rows(Dedup.incrementalPairs(
        corpus.filter(col("doc_id") < off).unionByName(inc1), inc2)),
      "day-2 dedup against base + folded day-1 increment")
    // retrying a day's append is a no-op on a completed segment: the
    // result is unchanged even with a DIFFERENT batch supplied
    Dedup.publishHistorySegment(spark, spath, "day1", docs.limit(1))
    assert(rows(Dedup.incrementalAgainstSegmentedIndex(spark, spath, inc2))
      == rows(Dedup.incrementalPairs(
        corpus.filter(col("doc_id") < off).unionByName(inc1), inc2)))
    // a DOUBLE-FOLD (same batch under a second id — the retry spelled
    // differently) duplicates history rows; the debug check must catch
    // the segment-vs-segment case, not just increment-vs-history
    Dedup.publishHistorySegment(spark, spath, "day1-retry", inc1)
    spark.conf.set("spark.graft.dedup.checkDisjointIds", "true")
    try {
      val e = intercept[IllegalArgumentException](
        Dedup.incrementalAgainstSegmentedIndex(spark, spath, inc2))
      assert(e.getMessage.contains("duplicate doc_ids"))
    } finally spark.conf.unset("spark.graft.dedup.checkDisjointIds")
    Work.clean(spath)
    // clean + REPUBLISH at the same path with different history and a
    // NON-DEFAULT bucket count: the reader must serve the new files
    // (refreshTable, not a stale cached listing of deleted parts) and
    // derive the count from the artifact's own record (r16 review)
    Work.clean(bpath)
    Dedup.publishHistorySegment(spark, bpath, "hist",
      docs.limit(20).select("doc_id", "text"))
    Dedup.compactSegments(spark, bpath, "bucketed", retire = false,
      buckets = 8)
    val small = rows(Dedup.incrementalAgainstSegmentedIndex(spark, bpath,
      inc))
    assert(small.subsetOf(fused) && small.size < fused.size,
      s"20-doc history must yield a strict pair subset " +
        s"(${small.size} vs ${fused.size})")
    Work.clean(bpath)
  }

  test("bucketed-index catalog economy: a clean+republish retires the " +
      "superseded publish id's table pair — exactly one declared pair " +
      "per subtable, ever (r16 verdict #6)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    val bpath = Work.scratch("histidxb_cat_spec")
    // the one-segment bucketed index: publish, re-lay out as ONE
    // bucketed segment; the reader declares tables per SEGMENT path
    def publish(n: Int): String = {
      Dedup.publishHistorySegment(spark, bpath, "hist", docs.limit(n))
      Dedup.compactSegments(spark, bpath, "bucketed", retire = false)
    }
    val seg = s"$bpath/seg_bucketed"
    val tag = Work.publishTag(seg).replaceAll("[^A-Za-z0-9_]", "_")
    def declared = spark.sql(s"SHOW TABLES LIKE 'graft_hidx_*_$tag*'")
      .collect().map(_.getString(1)).sorted.toSeq
    Work.clean(bpath)
    assert(publish(50) == seg)
    Dedup.bucketedHistoryIndex(spark, seg): Unit
    val first = declared
    assert(first.size == 2, s"expected one (sh, bb) pair, got $first")
    // same publish re-read: idempotent, no growth
    Dedup.bucketedHistoryIndex(spark, seg): Unit
    assert(declared == first)
    // clean + republish (new publish id): the reader must declare a
    // FRESH pair and DROP the superseded one — not accumulate
    Work.clean(bpath)
    publish(80)
    Dedup.bucketedHistoryIndex(spark, seg): Unit
    val second = declared
    assert(second.size == 2,
      s"superseded catalog entries must be dropped, got $second")
    assert(second.toSet.intersect(first.toSet).isEmpty,
      "republish must declare under the NEW publish id")
    Work.clean(bpath)
    second.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("one-segment history index: ensureHistoryIndex publishes a " +
      "segmented root under a new prefix, never the monolithic " +
      "inc_hist_v2_ spelling") {
    def name(p: String) = p.substring(p.lastIndexOf('/') + 1)
    val fp = Some(s"onesegment_${Work.jvmTag}")
    val old = s"${Work.dir}/inc_hist_v2_${Work.publishTag(sf, fp)}"
    val root = Dedup.ensureHistoryIndex(spark, sf, fp)
    assert(root != old && !name(root).startsWith("inc_hist_v2_"),
      s"one-segment index must not reuse the monolithic path: $root")
    assert(Dedup.activeSegments(root).map(name) == Seq("seg_hist"))
    val broot = Dedup.ensureHistoryIndexBucketed(spark, sf, fp)
    assert(broot != root && !name(broot).startsWith("inc_hidxb_v3_"),
      s"bucketed one-segment index must not reuse the old path: $broot")
    assert(Dedup.activeSegments(broot).map(name) == Seq("seg_bucketed"))
    // why the prefix had to move: a monolithic artifact (sh/, bb/,
    // _SUCCESS at the root, no seg_ children) left at the old spelling
    // in a shared work dir reads as a segmented root with NO segment
    Work.clean(old)
    Work.publish(old) { tmp =>
      Seq("sh", "bb").foreach(d => new java.io.File(s"$tmp/$d").mkdirs())
    }: Unit
    intercept[IllegalArgumentException](
      Dedup.segmentedIndexFlavors(spark, old))
    Seq(old, root, broot).foreach(Work.clean)
  }

  test("compaction with a non-default bucket count: the aligned-fold " +
      "dial and maybeCompact count files per bucket from the segment's " +
      "own buckets record, and rows equal the default-count segment") {
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    def day(k: Int) = docs.filter(col("doc_id") % 4 === k)
    def name(p: String) = p.substring(p.lastIndexOf('/') + 1)
    val a = Work.scratch("histidx_b8_spec")
    Work.clean(a)
    // worst per-bucket file multiplicity of a segment's sh table
    def multiplicity(seg: String): Int = {
      val (fsys, shDir) = Work.fs(s"$a/$seg/sh")
      fsys.listStatus(shDir).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).groupBy(Dedup.bucketIdOf)
        .values.map(_.length).max
    }
    // an 8-bucket standing segment grown by two aligned (adopting)
    // folds to the dial: 1, 2, then 3 files per bucket
    Dedup.publishHistorySegment(spark, a, "d0", day(0))
    Dedup.compactSegments(spark, a, "c0", victims = Seq("d0"),
      buckets = 8): Unit
    (1 to 2).foreach { k =>
      Dedup.publishHistorySegment(spark, a, s"d$k", day(k))
      Dedup.compactSegments(spark, a, s"c$k",
        victims = Seq(s"c${k - 1}", s"d$k"), buckets = 8): Unit
      assert(multiplicity(s"seg_c$k") == k + 1,
        s"aligned fold $k must adopt the standing segment")
    }
    assert(Dedup.AlignedFoldMaxFilesPerBucket == 3)
    // maybeCompact's minor leaves a dial-tripped standing segment for
    // the major — counted against ITS 8 buckets (24 files = 3 per
    // bucket), not the 32-bucket default (which would read 1 per bucket)
    Dedup.publishHistorySegment(spark, a, "d3", day(3))
    val minor = Dedup.maybeCompact(spark, a,
      Dedup.CompactionPolicy(minorTail = 1, majorFlavors = 0))
    assert(minor.isDefined, "one plain segment trips minorTail = 1")
    assert(Dedup.activeSegments(a).map(name).toSet ==
      Set("seg_c2", name(minor.get)),
      "the dial-tripped 8-bucket standing segment must not ride along")
    // …and the minor folds at the standing segment's 8 buckets, not the
    // 32-bucket default, so it stays aligned with it
    assert(Work.readSmallRecord(minor.get, "buckets")
      .map(_.trim.split(" ")(0)).contains("8"),
      "the minor's fold must carry the standing segment's 8 buckets")
    locally {
      val (fsys, shDir) = Work.fs(s"${minor.get}/sh")
      val files = fsys.listStatus(shDir).map(_.getPath.getName)
        .filter(_.endsWith(".parquet"))
      assert(files.nonEmpty &&
        files.forall(f => Dedup.bucketIdOf(f).exists(_ < 8)),
        s"every fold file routes to one of 8 buckets: ${files.toSeq}")
    }
    // the aligned-fold dial on the same count: the standing segment is
    // at 3 files per bucket, so the next 8-bucket fold collapses it
    // back to one file per bucket instead of adopting a fourth; the
    // aligned minor (one file per bucket) is adopted beside it — 2 in
    // all, where adopting the standing segment too would give 4
    Dedup.compactSegments(spark, a, "c4",
      victims = Seq("c2", name(minor.get)), buckets = 8): Unit
    assert(multiplicity("seg_c4") == 2,
      "the dial must collapse an 8-bucket segment at 3 files/bucket")
    // rows: the same history compacted at the default count
    val b = Work.scratch("histidx_b32_spec")
    Work.clean(b)
    (0 to 3).foreach(k =>
      Dedup.publishHistorySegment(spark, b, s"d$k", day(k)))
    Dedup.compactSegments(spark, b, "all"): Unit
    def shRows(idx: String) = {
      val flavors = Dedup.segmentedIndexFlavors(spark, idx)
      assert(flavors.size == 1)
      flavors.head._1.collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1), r.getInt(2))).toSet
    }
    assert(shRows(a) == shRows(b))
    val inc = Dedup.plantedCorpus(Tables(spark, sf, "documents"))
      .filter(col("doc_id") >= Dedup.PlantedOffset)
    def pairs(idx: String) =
      Dedup.incrementalAgainstSegmentedIndex(spark, idx, inc).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = pairs(b)
    assert(want.nonEmpty && pairs(a) == want)
    Work.clean(a)
    Work.clean(b)
  }

  test("segment compaction: bit-identical pairs pre/post fold, racing-" +
      "reader atomicity, transitive fold records, and a retry finishes " +
      "retirement (r16 verdict #2-3)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    val corpus = Dedup.plantedCorpus(Tables(spark, sf, "documents"))
    val off = Dedup.PlantedOffset
    val inc = corpus.filter(col("doc_id") >= off)
    def third(k: Int) = inc.filter((col("doc_id") - off) % 3 === k)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getInt(4))).toSet
    def names(paths: Seq[String]) =
      paths.map(p => p.substring(p.lastIndexOf('/') + 1))
    val spath = Work.scratch("histidxcomp_spec")
    Work.clean(spath)
    Dedup.publishHistorySegment(spark, spath, "day0", docs)
    Dedup.publishHistorySegment(spark, spath, "day1", third(0))
    val ref = rows(Dedup.incrementalAgainstSegmentedIndex(spark, spath,
      third(1)))
    assert(ref.nonEmpty)
    // fold both segments into one BUCKETED compacted segment, victims
    // left on disk (retire=false): the fold record alone must hide them
    Dedup.compactSegments(spark, spath, "c0", retire = false)
    assert(names(Dedup.completeSegments(spath)).toSet
      == Set("seg_day0", "seg_day1", "seg_c0"),
      "victims must still be on disk before retirement")
    assert(names(Dedup.activeSegments(spath)) == Seq("seg_c0"),
      "a complete compacted segment must hide its victims instantly")
    assert(rows(Dedup.incrementalAgainstSegmentedIndex(spark, spath,
      third(1))) == ref, "pairs must be bit-identical across the fold")
    // an INCOMPLETE compacted segment is invisible: its fold record
    // must not hide anything (the racing reader sees the OLD set)
    locally {
      val (fsys, p) = Work.fs(s"$spath/seg_cbad")
      fsys.mkdirs(p): Unit
      val out = fsys.create(new org.apache.hadoop.fs.Path(p, "folds"), true)
      out.write("seg_c0".getBytes("UTF-8")); out.close()
      // drop the manifest so this pins the LISTING fold-filter (the
      // manifest would hide seg_cbad trivially — it lists active
      // segments, not directories); the next mutation rebuilds it
      val (mfs, mp) = Work.fs(s"$spath/manifest")
      mfs.delete(mp, false): Unit
      assert(names(Dedup.activeSegments(spath)) == Seq("seg_c0"),
        "an un-committed compaction must hide nothing")
      Work.clean(s"$spath/seg_cbad")
    }
    // crash-between-publish-and-retire: retrying the same compactId
    // finishes the retirement without re-staging
    Dedup.compactSegments(spark, spath, "c0")
    assert(names(Dedup.completeSegments(spath)) == Seq("seg_c0"),
      "retry must retire the recorded victims")
    // plain tail beside the bucketed compacted segment: the composed
    // reader unions flavors and stays bit-identical to the all-plain
    // generic spelling over the concatenated history
    Dedup.publishHistorySegment(spark, spath, "day2", third(1))
    val composed = rows(Dedup.incrementalAgainstSegmentedIndex(spark,
      spath, third(2)))
    assert(composed == rows(Dedup.incrementalPairs(
      corpus.filter(col("doc_id") < off).unionByName(third(0))
        .unionByName(third(1)), third(2))),
      "bucketed-compacted + plain-tail must equal the generic run")
    // PARTIAL-victims fold (the tiered cadence's minor compaction):
    // only the named tail folds; other active segments stay put, and
    // the composed result is unchanged
    Dedup.publishHistorySegment(spark, spath, "day3", third(2))
    val afterTail = rows(Dedup.incrementalAgainstSegmentedIndex(spark,
      spath, third(2).select((col("doc_id") + 3000000000L).as("doc_id"),
        col("text"))))
    Dedup.compactSegments(spark, spath, "w1", victims = Seq("day2", "day3"))
    assert(names(Dedup.activeSegments(spath)).toSet
      == Set("seg_c0", "seg_w1"),
      "a partial fold must leave non-victims active")
    assert(rows(Dedup.incrementalAgainstSegmentedIndex(spark,
      spath, third(2).select((col("doc_id") + 3000000000L).as("doc_id"),
        col("text")))) == afterTail,
      "pairs must be unchanged across a tail-only fold")
    // compaction of a compaction: fold records are TRANSITIVE, so one
    // reader-side record level suffices and retirement reaches the
    // original victims' names too
    Dedup.compactSegments(spark, spath, "c1", retire = false)
    val foldRec = {
      val (fsys, p) = Work.fs(s"$spath/seg_c1/folds")
      val in = fsys.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    assert(foldRec.split("\n").toSet ==
      Set("seg_day0", "seg_day1", "seg_c0", "seg_day2", "seg_day3",
        "seg_w1"),
      s"fold record must carry victims' victims, got: $foldRec")
    assert(names(Dedup.activeSegments(spath)) == Seq("seg_c1"))
    def shiftedQuery = third(2)
      .select((col("doc_id") + 3000000000L).as("doc_id"), col("text"))
    assert(rows(Dedup.incrementalAgainstSegmentedIndex(spark, spath,
      shiftedQuery)) == afterTail,
      "pairs must be bit-identical across the second-level fold")
    // retiring a DECLARED bucketed compacted segment drops its catalog
    // pair too (r17 review): seg_c0's tables were declared by the
    // composed reads above and would otherwise outlive the files
    val tagC0 = Work.publishTag(s"$spath/seg_c0")
      .replaceAll("[^A-Za-z0-9_]", "_")
    def c0Tables = spark.sql(s"SHOW TABLES LIKE 'graft_hidx_*_$tagC0*'")
      .collect().map(_.getString(1)).toSeq
    assert(c0Tables.nonEmpty, "composed reads must have declared seg_c0")
    Dedup.retireSegments(spath, Seq("seg_c0", "seg_w1"))
    assert(c0Tables.isEmpty,
      "retirement must drop the retired segment's catalog entries")
    assert(rows(Dedup.incrementalAgainstSegmentedIndex(spark, spath,
      shiftedQuery)) == afterTail,
      "seg_c1 alone must serve the same pairs after retirement")
    Work.clean(spath)
  }

  test("append-spelling bucketed fold: folding the standing bucketed " +
      "segment neither shuffles nor READS history bytes — its files " +
      "are adopted verbatim — with bit-identical output (r17/r18)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    val tail = docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 40000000L).as("doc_id"), col("text"))
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val readBytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
          readBytes.addAndGet(m.inputMetrics.bytesRead): Unit
        }
      }
    }
    def measured(body: => Unit): (Long, Long) = {
      org.apache.spark.sql.graftbridge.ListenerBridge
        .drain(spark.sparkContext)
      bytes.set(0)
      readBytes.set(0)
      body
      org.apache.spark.sql.graftbridge.ListenerBridge
        .drain(spark.sparkContext)
      (bytes.get, readBytes.get)
    }
    def indexRows(idx: String) = {
      val (sh, bb) = Dedup.segmentedIndexFrames(spark, idx)
      (sh.select("doc_id", "n").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet,
        bb.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
          .toSet)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // arm A (fast path): history already bucketed (the standing
      // weekly segment), tail plain — the measured fold
      val a = Work.scratch("alignedfold_a")
      Work.clean(a)
      Dedup.publishHistorySegment(spark, a, "hist", docs)
      Dedup.compactSegments(spark, a, "c0") // outside the measurement
      Dedup.publishHistorySegment(spark, a, "tail", tail)
      // the append spelling adopts the standing segment's files
      // verbatim — record their names to prove it below
      def shFiles(idx: String, seg: String): Set[String] = {
        val (fsys, shDir) = Work.fs(s"$idx/$seg/sh")
        fsys.listStatus(shDir).map(_.getPath.getName)
          .filter(_.endsWith(".parquet")).toSet
      }
      val standingFiles = shFiles(a, "seg_c0")
      val (fastBytes, fastRead) = measured {
        Dedup.compactSegments(spark, a, "c1"): Unit
      }
      // arm B (baseline): SAME data, history still plain — full
      // re-shuffle fold
      val b = Work.scratch("alignedfold_b")
      Work.clean(b)
      Dedup.publishHistorySegment(spark, b, "hist", docs)
      Dedup.publishHistorySegment(spark, b, "tail", tail)
      val (slowBytes, slowRead) = measured {
        Dedup.compactSegments(spark, b, "c1"): Unit
      }
      // bit-identical artifacts either way
      assert(indexRows(a) == indexRows(b),
        "aligned and full-shuffle folds must publish identical indexes")
      // the fast path's shuffle is tail-sized: with history ≈ 50× the
      // tail, a generous 2× bar cannot pass by noise. Self-calibrated:
      // both arms fold the same data in the same session.
      assert(fastBytes * 2 < slowBytes,
        s"aligned fold shuffled $fastBytes bytes vs full fold's " +
          s"$slowBytes — the bucketed victim should not re-shuffle")
      // r18 (the append spelling): the standing segment's bytes are
      // never READ either — the fold adopts its files at the raw file
      // level, so Spark's input bytes are tail-sized too
      assert(fastRead * 2 < slowRead,
        s"append-spelling fold read $fastRead bytes vs full fold's " +
          s"$slowRead — the standing segment must be adopted, not read")
      // ...and the adopted files ARE the standing segment's files,
      // byte-identical by construction (same names, hard-linked or
      // raw-copied — never re-encoded)
      assert(standingFiles.subsetOf(shFiles(a, "seg_c1")),
        "standing segment's data files must be adopted verbatim " +
          "into the folded segment")
      // file economy: aligned part + tail part land ≤ 2 files/bucket
      def shParts(idx: String, seg: String) = {
        val (fsys, shDir) = Work.fs(s"$idx/$seg/sh")
        fsys.listStatus(shDir)
          .count(_.getPath.getName.endsWith(".parquet"))
      }
      assert(shParts(a, "seg_c1") <= 2 * Dedup.HistIdxBuckets,
        s"aligned fold wrote ${shParts(a, "seg_c1")} part files")
      // the file DIAL: aligned folds append one file/bucket per tail
      // part, so at AlignedFoldMaxFilesPerBucket the fold degrades to
      // the full rewrite and the file count COLLAPSES — keep folding
      // fresh tails and watch the count never exceed the dial
      var expect = indexRows(a)
      (2 to Dedup.AlignedFoldMaxFilesPerBucket + 2).foreach { i =>
        val t2 = docs.filter(col("doc_id") % 50 === 1)
          .select((col("doc_id") + (40000000L * i)).as("doc_id"),
            col("text"))
        Dedup.publishHistorySegment(spark, a, s"tail$i", t2)
        Dedup.compactSegments(spark, a, s"c${i}"): Unit
        val parts = shParts(a, s"seg_c$i")
        assert(parts <=
          (Dedup.AlignedFoldMaxFilesPerBucket + 1) * Dedup.HistIdxBuckets,
          s"fold $i wrote $parts part files — the file dial must cap " +
            "aligned-append growth")
      }
      // after the dial fired at least once, the standing segment is
      // back to a small file count and the data is intact
      val finalSeg = s"seg_c${Dedup.AlignedFoldMaxFilesPerBucket + 2}"
      assert(Dedup.activeSegments(a)
        .map(p => p.substring(p.lastIndexOf('/') + 1)) == Seq(finalSeg))
      assert(indexRows(a)._1.size > expect._1.size,
        "each folded tail must add rows")
      Work.clean(a)
      Work.clean(b)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("multi-victim adoption is dial-BUDGETED and a major's " +
      "adoptAligned=false collapses: the result's per-bucket file " +
      "multiplicity never exceeds the dial (r18 tiered regression)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    def slice(k: Int) = docs.filter(col("doc_id") % 5 === k)
      .select((col("doc_id") + 60000000L * k).as("doc_id"), col("text"))
    val spath = Work.scratch("histidxbudget_spec")
    Work.clean(spath)
    // three separate 1-file/bucket bucketed segments (the tiered
    // cadence's weekly minors) + one plain tail
    (0 until 3).foreach { k =>
      Dedup.publishHistorySegment(spark, spath, s"w$k", slice(k))
      Dedup.compactSegments(spark, spath, s"cw$k",
        victims = Seq(s"w$k")): Unit
    }
    Dedup.publishHistorySegment(spark, spath, "tail", slice(3))
    def shParts(seg: String): Int = {
      val (fsys, shDir) = Work.fs(s"$spath/$seg/sh")
      fsys.listStatus(shDir)
        .count(_.getPath.getName.endsWith(".parquet"))
    }
    def rows = Dedup.segmentedIndexFrames(spark, spath)._1
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = rows
    // a fold over THREE under-dial victims must not adopt them all:
    // sum(1,1,1)+1 staged would exceed the dial — the budget demotes
    // the overflow to the rewrite, so the result stays ≤ dial
    Dedup.compactSegments(spark, spath, "m1")
    assert(shParts("seg_m1") <=
      Dedup.AlignedFoldMaxFilesPerBucket * Dedup.HistIdxBuckets,
      s"budgeted fold wrote ${shParts("seg_m1")} sh files — the dial " +
        "must bound the RESULT, not just each victim")
    assert(rows == want, "budgeted fold must preserve rows")
    // the MAJOR spelling: adoptAligned=false rewrites everything —
    // full collapse to one file per bucket
    Dedup.publishHistorySegment(spark, spath, "tail2", slice(4))
    Dedup.compactSegments(spark, spath, "m2", adoptAligned = false)
    assert(shParts("seg_m2") <= Dedup.HistIdxBuckets,
      s"major must collapse to 1 file/bucket, got ${shParts("seg_m2")}")
    assert(Dedup.segmentedIndexFrames(spark, spath)._1.count()
      == want.size + slice(4).count(), "major must preserve rows")
    Work.clean(spath)
  }

  test("segment manifest: reads cost one record instead of O(segments) " +
      "listings, equal the listing pass exactly, and a crashed " +
      "publish's staleness is repaired by the idempotent retry " +
      "(r17 verdict #5)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    val spath = Work.scratch("histidxmanifest_spec")
    Work.clean(spath)
    def day(k: Int) = docs.filter(col("doc_id") % 4 === k)
    (0 until 3).foreach(k =>
      Dedup.publishHistorySegment(spark, spath, s"d$k", day(k)))
    // equality: the manifest answer IS the listing answer
    val viaManifest = Dedup.activeSegments(spath)
    val manifestFile = s"$spath/manifest"
    val (fsys, mPath) = Work.fs(manifestFile)
    assert(fsys.exists(mPath), "mutators must maintain a manifest")
    fsys.delete(mPath, false): Unit
    val viaListing = Dedup.activeSegments(spath)
    assert(viaManifest == viaListing,
      s"manifest=$viaManifest listing=$viaListing")
    // restore the manifest through a no-op mutation (idempotent
    // republish), then pin the O(1) read: an active-set computation
    // with a manifest does ZERO listing passes
    Dedup.publishHistorySegment(spark, spath, "d0", day(0)): Unit
    assert(fsys.exists(mPath), "the retry must rebuild the manifest")
    val before = Dedup.listingPasses.get()
    assert(Dedup.activeSegments(spath) == viaListing)
    assert(Dedup.listingPasses.get() == before,
      "a manifest-backed read must not list the segment dirs")
    // crash between publish and manifest update: the new segment is
    // committed but the manifest doesn't know it — readers see the
    // pre-publish set (the documented staleness window)...
    Work.publish(s"$spath/seg_d3")(Dedup.stagePlainIndex(_, day(3))): Unit
    assert(!Dedup.activeSegments(spath).exists(_.endsWith("seg_d3")),
      "a crashed publish is invisible until repaired (stale manifest)")
    // ...and the pipeline's idempotent RETRY of that publish repairs
    // it: the _SUCCESS short-circuit skips the staging but rewrites
    // the manifest from the listing
    Dedup.publishHistorySegment(spark, spath, "d3", day(3)): Unit
    assert(Dedup.activeSegments(spath).exists(_.endsWith("seg_d3")),
      "the retry must repair the manifest")
    // compaction + retirement keep it coherent too
    Dedup.compactSegments(spark, spath, "m0")
    val after = Dedup.activeSegments(spath)
    assert(after.map(p => p.substring(p.lastIndexOf('/') + 1))
      == Seq("seg_m0"))
    fsys.delete(mPath, false): Unit
    assert(Dedup.activeSegments(spath) == after,
      "post-compaction manifest must equal the listing")
    // a CORRUPT manifest falls back to the listing instead of wedging
    val out = fsys.create(mPath, true)
    out.write("v999 something-else\n".getBytes("UTF-8")); out.close()
    assert(Dedup.activeSegments(spath) == after,
      "an unknown manifest version must fall back to the listing")
    // a WELL-FORMED but STALE manifest naming a RETIRED dir — the
    // write that lost the r18 ADVICE race (derived from a pre-fold
    // listing, landed after retirement): readers verify entries
    // against the root listing and fall back, never a FileNotFound
    // crash on the ghost path
    val out2 = fsys.create(mPath, true)
    out2.write("v1 9999\nseg_ghost plain\n".getBytes("UTF-8"))
    out2.close()
    assert(Dedup.activeSegments(spath) == after,
      "a manifest naming deleted dirs must fall back to the listing")
    // ...and the next mutation repairs it with a STAMPED header (the
    // lost-update guard's monotonic counter)
    Dedup.publishHistorySegment(spark, spath, "d9",
      day(0).limit(3)): Unit
    val head = {
      val in = fsys.open(mPath)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().next()
      finally in.close()
    }
    assert(head.matches("v1 \\d+"), s"stamped header expected: $head")
    assert(head.split(" ")(1).toLong > 9999L,
      "the repair must write a stamp ABOVE the stale record's")
    Work.clean(spath)
  }

  test("concat collapse: a major folding aligned victims by raw " +
      "row-group concat is row-identical to the decoding rewrite, " +
      "collapses the file count, and publishes the unsorted flag " +
      "(r18 verdict #4)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    def slice(k: Int) = docs.filter(col("doc_id") % 5 === k)
      .select((col("doc_id") + 60000000L * k).as("doc_id"), col("text"))
    def build(tag: String): String = {
      val p = Work.scratch(s"histidxconcat_$tag")
      Work.clean(p)
      (0 until 3).foreach { k =>
        Dedup.publishHistorySegment(spark, p, s"w$k", slice(k))
        Dedup.compactSegments(spark, p, s"cw$k",
          victims = Seq(s"w$k")): Unit
      }
      Dedup.publishHistorySegment(spark, p, "tail", slice(3)): Unit
      p
    }
    def shRows(p: String): Set[(Long, Seq[String], Int)] =
      Dedup.segmentedIndexFrames(spark, p)._1.collect()
        .map(r => (r.getLong(0), r.getSeq[String](1), r.getInt(2))).toSet
    def bbRows(p: String): Set[(Long, Int, Long)] =
      Dedup.segmentedIndexFrames(spark, p)._2.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val a = build("rewrite")
    val b = build("concat")
    Dedup.compactSegments(spark, a, "m", adoptAligned = false)
    Dedup.compactSegments(spark, b, "m", adoptAligned = false,
      concatAligned = true)
    // ROW identity vs the rewrite, both subtables, full rows
    assert(shRows(b) == shRows(a), "concat sh rows must equal the rewrite")
    assert(bbRows(b) == bbRows(a), "concat bb rows must equal the rewrite")
    // file-count collapse: 3 aligned victims concat to ONE file per
    // bucket; the plain tail rewrites to one more — 2/bucket, under
    // the dial (the rewrite side lands 1/bucket)
    def shParts(p: String): Int = {
      val (fsys, shDir) = Work.fs(s"$p/seg_m/sh")
      fsys.listStatus(shDir).count(_.getPath.getName.endsWith(".parquet"))
    }
    assert(shParts(b) <= 2 * Dedup.HistIdxBuckets,
      s"concat major must collapse files, got ${shParts(b)}")
    // the unsorted layout flag is published...
    val rec = {
      val (fsys, rp) = Work.fs(s"$b/seg_m/buckets")
      val in = fsys.open(rp)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    assert(rec.endsWith(" unsorted"),
      s"concat-merged segment must declare unsorted, got '$rec'")
    // ...and the BUCKETED read path stays correct under it, in the
    // exchange-free (sort-merge) regime where a wrong bucket routing
    // or a trusted-but-absent sort order would corrupt the join:
    // broadcast disabled on the concat side, default conf on the
    // rewrite side — identical pairs
    val inc = Dedup.plantedCorpus(docs)
      .filter(col("doc_id") >= Dedup.PlantedOffset)
    def pairs(p: String): Set[(Long, Long)] =
      Dedup.incrementalAgainstSegmentedIndex(spark, p, inc)
        .select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantPairs = pairs(a)
    val restore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(pairs(b) == wantPairs,
        "incremental dedup over the concat-collapsed index must match " +
          "the rewrite (SMJ regime)")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", restore)
    // a FURTHER fold that ADOPTS the unsorted segment propagates the
    // flag (adoption keeps the merged files verbatim)
    Dedup.publishHistorySegment(spark, b, "tail2", slice(4)): Unit
    Dedup.compactSegments(spark, b, "m2")
    val rec2 = {
      val (fsys, rp) = Work.fs(s"$b/seg_m2/buckets")
      val in = fsys.open(rp)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    assert(rec2.endsWith(" unsorted"),
      s"adopting an unsorted victim must keep the flag, got '$rec2'")
    Work.clean(a)
    Work.clean(b)
  }

  test("retirement grace window: an in-flight reader that pinned victim " +
      "paths survives a fold+retire under grace; grace 0 retires " +
      "immediately (r17 verdict #7)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    val spath = Work.scratch("histidxgrace_spec")
    Work.clean(spath)
    Dedup.publishHistorySegment(spark, spath, "day0",
      docs.filter(col("doc_id") % 2 === 0))
    Dedup.publishHistorySegment(spark, spath, "day1",
      docs.filter(col("doc_id") % 2 =!= 0))
    // the in-flight reader: a LAZY frame whose file paths were pinned
    // from the pre-fold listing — exactly the scan the grace window
    // protects (it will execute only after the fold+retire below)
    val (pinnedSh, _) = Dedup.segmentedIndexFrames(spark, spath)
    val want = docs.count()
    // fold + retire under a 1-hour grace: victims are hidden from new
    // listings instantly but their FILES must survive retirement
    Dedup.compactSegments(spark, spath, "g0",
      graceMs = 3600L * 1000)
    def names(paths: Seq[String]) =
      paths.map(p => p.substring(p.lastIndexOf('/') + 1))
    assert(names(Dedup.activeSegments(spath)) == Seq("seg_g0"),
      "fold filter must hide victims from new readers instantly")
    assert(names(Dedup.completeSegments(spath)).toSet
      == Set("seg_day0", "seg_day1", "seg_g0"),
      "grace must defer the victim deletion")
    assert(pinnedSh.count() == want,
      "the pre-fold reader must still execute against its pinned paths")
    // grace elapsed (sweep with grace 0 = everything eligible): the
    // deferred victims go now
    Dedup.retireFolded(Some(spark), spath, graceMs = 0L)
    assert(names(Dedup.completeSegments(spath)) == Seq("seg_g0"),
      "an eligible sweep must finish the deferred retirement")
    // post-retirement readers are fine — seg_g0 carries everything
    assert(Dedup.segmentedIndexFrames(spark, spath)._1.count() == want)
    Work.clean(spath)
  }

  test("CompactionPolicy majorConcat=auto: the same pre-major state " +
      "rewrites below the row crossover and concats above it, " +
      "row-identically (r19 verdict #3)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    def slice(k: Int) = docs.filter(col("doc_id") % 5 === k)
      .select((col("doc_id") + 70000000L * k).as("doc_id"), col("text"))
    def build(tag: String): String = {
      val p = Work.scratch(s"histidxauto_$tag")
      Work.clean(p)
      (0 until 3).foreach { k =>
        Dedup.publishHistorySegment(spark, p, s"w$k", slice(k))
        Dedup.compactSegments(spark, p, s"cw$k",
          victims = Seq(s"w$k")): Unit
      }
      p
    }
    def shRows(p: String): Set[(Long, Seq[String], Int)] =
      Dedup.segmentedIndexFrames(spark, p)._1.collect()
        .map(r => (r.getLong(0), r.getSeq[String](1), r.getInt(2))).toSet
    def majorRec(p: String): String = {
      val seg = Dedup.activeSegments(p) match {
        case Seq(one) => one
        case other => fail(s"expected ONE active segment, got $other")
      }
      val (fsys, rp) = Work.fs(s"$seg/buckets")
      val in = fsys.open(rp)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    val lo = build("concat")
    val hi = build("rewrite")
    // crossover below the data size → auto picks the byte-copy concat
    assert(Dedup.maybeCompact(spark, lo, Dedup.CompactionPolicy(
      minorTail = 9, majorFlavors = 3, majorConcat = "auto",
      concatRowsMin = 1L)).isDefined)
    assert(majorRec(lo).endsWith(" unsorted"),
      "auto above the crossover must have concatenated (unsorted flag)")
    // crossover above the data size → auto picks the sorted rewrite
    assert(Dedup.maybeCompact(spark, hi, Dedup.CompactionPolicy(
      minorTail = 9, majorFlavors = 3, majorConcat = "auto",
      concatRowsMin = Long.MaxValue)).isDefined)
    assert(!majorRec(hi).endsWith(" unsorted"),
      "auto below the crossover must have rewritten (sorted layout)")
    assert(shRows(lo) == shRows(hi),
      "both auto modes must produce identical rows")
    Seq(lo, hi).foreach(Work.clean)
  }

  test("CompactionPolicy: level-based minor/major thresholds with " +
      "deterministic fold ids — the tiered cadence without manual " +
      "compact calls (r17 verdict #8)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    def day(k: Int) = docs.filter(col("doc_id") % 6 === k)
      .select((col("doc_id") + 50000000L * k).as("doc_id"), col("text"))
    val spath = Work.scratch("histidxpolicy_spec")
    Work.clean(spath)
    val policy = Dedup.CompactionPolicy(minorTail = 2, majorFlavors = 3)
    def names = Dedup.activeSegments(spath)
      .map(p => p.substring(p.lastIndexOf('/') + 1))
    // day 0: one plain segment — below every threshold, no fold
    Dedup.publishHistorySegment(spark, spath, "d0", day(0))
    assert(Dedup.maybeCompact(spark, spath, policy).isEmpty)
    assert(names == Seq("seg_d0"))
    // day 1: minorTail trips — the two plain days fold into one
    // bucketed segment whose id derives from the victim set
    Dedup.publishHistorySegment(spark, spath, "d1", day(1))
    val minor1 = Dedup.maybeCompact(spark, spath, policy)
    val wantId1 = Dedup.compactIdFor(Seq("seg_d0", "seg_d1"))
    assert(minor1.map(p => p.substring(p.lastIndexOf('/') + 1))
      .contains(s"seg_$wantId1"), s"got $minor1")
    assert(names == Seq(s"seg_$wantId1"))
    // a SIBLING applying the same policy to the same state is a no-op
    // convergence, not a second compacted segment (deterministic id +
    // level-based thresholds)
    assert(Dedup.maybeCompact(spark, spath, policy).isEmpty)
    // day 2+3: next minor adopts the under-dial standing segment for
    // free (append spelling) — ONE bucketed flavor, not two
    Dedup.publishHistorySegment(spark, spath, "d2", day(2))
    assert(Dedup.maybeCompact(spark, spath, policy).isEmpty,
      "one plain day must stay below minorTail")
    Dedup.publishHistorySegment(spark, spath, "d3", day(3))
    assert(Dedup.maybeCompact(spark, spath, policy).isDefined)
    assert(names.length == 1,
      s"minor must fold the standing segment along, got $names")
    // results remain bit-identical to the never-compacted twin
    val inc = day(5)
    val got = Dedup.incrementalAgainstSegmentedIndex(spark, spath, inc)
      .collect().map(_.toSeq).toSet
    val twin = Work.scratch("histidxpolicy_twin")
    Work.clean(twin)
    (0 to 3).foreach(k =>
      Dedup.publishHistorySegment(spark, twin, s"d$k", day(k)))
    assert(got == Dedup.incrementalAgainstSegmentedIndex(spark, twin, inc)
      .collect().map(_.toSeq).toSet,
      "policy compaction must never change query results")
    Work.clean(spath)
    Work.clean(twin)
  }

  test("DSIR: fused predicate-target ratios equal the generic " +
      "two-frame pass on the same subset; tokenization is " +
      "whitespace-robust at the edges") {
    import graft.ext.Dsir
    val docs = Tables(spark, sf, "documents")
    val pred = col("doc_id") % 7 === 0
    // the choice pin (r13 verdict #7): for a target that IS a subset
    // of raw, the one-corpus-scan fused pass and the generic
    // union-with-tag pass must produce the identical ratio table
    assert(Dsir.logRatioRowsFused(docs, pred) ==
      Dsir.logRatioRows(docs, docs.filter(pred)))
    // r13 ADVICE: edge tab/newline must not change the feature bag
    // (regex trim on the engine, explicit [ \t\n\r\f\x0B] class in the
    // oracle SQL — not String.trim vs DuckDB space-only trim)
    assert(Dsir.featureBuckets("\tfoo bar\n").toSeq ==
      Dsir.featureBuckets("foo bar").toSeq)
    assert(Dsir.featureBuckets("foo bar\r").toSeq ==
      Dsir.featureBuckets("foo bar").toSeq)
  }

  test("shingle guard is exactly the UDF's non-empty condition: " +
      "tab/newline-bordered docs with n-1 words neither shingle nor " +
      "emit spurious minhash pairs") {
    // r13 ADVICE (medium): the old space-only trim counted a phantom
    // edge token on "\talpha beta gamma", passed the >= n guard, and
    // the UDF's EMPTY shingle set minhashed to all-Long.MaxValue —
    // every such doc collided in all 16 bands and verifyJaccard's
    // 0 >= 0 passed trivially, emitting spurious near-dup pairs.
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "\talpha beta gamma"),
      (2L, "alpha beta gamma\n"),
      (3L, " alpha beta gamma "), // space-bordered control, 3 words
      (4L, "one two three four five"),
      (5L, "one two three four five") // exact dup of 4 → 1 true pair
    ).toDF("doc_id", "text")
    val rows = Dedup.shingleSets(docs).collect()
    assert(rows.map(_.getLong(0)).toSet == Set(4L, 5L),
      "guard must drop every sub-n doc whatever whitespace borders it")
    assert(rows.forall(_.getSeq[Long](1).nonEmpty),
      "no empty shingle set may survive the guard")
    val pairs = Dedup.minhashDedup(docs)
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((4L, 5L)), s"spurious pairs: $pairs")
  }

  test("compaction lease: a different-id live compactor excludes the " +
      "fold cleanly, a stale lease is taken over, same-id racers " +
      "converge on one target with row-identical output " +
      "(r18 verdict #3)") {
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "text").limit(60)
    def freshIdx(tag: String): String = {
      val p = Work.scratch(s"lease_$tag")
      Work.clean(p)
      Dedup.publishHistorySegment(spark, p, "day0",
        docs.filter(col("doc_id") % 2 === 0))
      Dedup.publishHistorySegment(spark, p, "day1",
        docs.filter(col("doc_id") % 2 =!= 0)): Unit
      p
    }
    def shIds(p: String): Set[Long] =
      Dedup.segmentedIndexFrames(spark, p)._1
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // --- different-id LIVE holder: the fold must fail with a pointed
    // error naming the holder, and the index must be untouched
    val idx = freshIdx("diff")
    val before = shIds(idx)
    assert(Work.createSmallRecordExclusive(idx, "_lease_compact",
      s"fold_other ${System.currentTimeMillis()}"))
    val e = intercept[IllegalStateException](
      Dedup.compactSegments(spark, idx, "fold_mine",
        victims = Seq("day0", "day1")))
    assert(e.getMessage.contains("fold_other"),
      s"error must name the holder: ${e.getMessage}")
    assert(Dedup.activeSegments(idx).size == 2 &&
      !Work.isComplete(s"$idx/seg_fold_mine"),
      "a lease-excluded fold must leave the index untouched")
    // --- stale lease (crashed holder, stamp far past the horizon):
    // taken over, fold completes, lease released
    Work.replaceSmallRecord(idx, "_lease_compact",
      s"fold_other ${System.currentTimeMillis() - 10L * 60 * 60 * 1000}")
    val t = Dedup.compactSegments(spark, idx, "fold_mine",
      victims = Seq("day0", "day1"))
    assert(Work.isComplete(t))
    assert(!Work.pathExists(s"$idx/_lease_compact"),
      "the lease must be released after the fold")
    assert(Dedup.activeSegments(idx).size == 1 && shIds(idx) == before,
      "takeover fold must be row-identical")
    Work.clean(idx)
    // --- same-id CONCURRENT racers: one wins the lease, the waiter
    // converges on the winner's committed target — one active
    // compacted segment, victims retired exactly once, rows identical
    val idx2 = freshIdx("same")
    val before2 = shIds(idx2)
    val outcomes =
      new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, String]]
    val threads = (1 to 2).map { _ =>
      new Thread(() =>
        outcomes.add(
          try Right(Dedup.compactSegments(spark, idx2, "c0",
            victims = Seq("day0", "day1")))
          catch { case ex: Throwable => Left(ex) }): Unit)
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    import scala.jdk.CollectionConverters._
    val res = outcomes.asScala.toSeq
    assert(res.size == 2 && res.forall(_.isRight),
      s"both same-id compactors must converge: $res")
    assert(res.flatMap(_.toOption).toSet.size == 1, "one target")
    assert(Dedup.activeSegments(idx2).size == 1 && shIds(idx2) == before2,
      "converged fold must be row-identical")
    assert(!Work.pathExists(s"$idx2/_lease_compact"))
    Work.clean(idx2)
  }
}
