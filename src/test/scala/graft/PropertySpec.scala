package graft

import graft.connector.LogStore
import graft.functions.TopKBuffer
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.types._

/** Property tests (SURVEY.md §5): invariants that must hold for ALL
  * inputs, not just the fixtures — JSON round-tripping through the log
  * store (escaping, unicode, doubles), the bounded-heap top-k versus a
  * full sort (including merge, i.e. partial-aggregation soundness),
  * and SimHash pigeonhole banding versus brute-force hamming.
  * Deterministic: generators are driven by fixed seeds.
  */
class PropertySpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("log store JSON round-trip preserves arbitrary strings and doubles") {
    val gnarly = Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.alphaNumStr,
      Gen.oneOf("\"quotes\"", "back\\slash", "tab\there", "new\nline",
        "null", "", "ünïcödé ∆Ω 中文", "{\"json\": [1, 2]}"))
    val rowsGen = Gen.nonEmptyListOf(Gen.zip(gnarly,
      Gen.oneOf(Gen.double, Gen.oneOf(0.0, -0.0, 1e-300, 1.7976931348623157e308))))
    samples(rowsGen, 10).foreach { rows =>
      val sp = spark
      import sp.implicits._
      val base = s"${Work.dir}/prop_roundtrip"
      Work.clean(base)
      val store = LogStore(base)
      val indexed = rows.zipWithIndex.map { case ((s, d), i) => (i.toLong, s, d) }
      store.append(indexed.toDF("id", "s", "d"), "scope", "p")
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("s", StringType), StructField("d", DoubleType)))
      val back = store.readBounded(spark, "scope", "p", schema)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .sortBy(_._1).toList
      def k(t: (Long, String, Double)) =
        (t._1, t._2, java.lang.Double.doubleToLongBits(t._3))
      assert(back.map(k) == indexed.map(k), s"rows=$rows")
    }
  }

  private val entryGen =
    Gen.zip(Gen.chooseNum(-1e9, 1e9), Gen.chooseNum(0L, 1000L),
      Gen.chooseNum(0, 5))

  test("bounded-heap top-k equals sort-take for arbitrary inputs") {
    val caseGen = Gen.zip(Gen.chooseNum(1, 12), Gen.listOf(entryGen))
    samples(caseGen, 200).foreach { case (k, xs) =>
      val buf = new TopKBuffer(k)
      xs.foreach { case (s, id, l) => buf.insert(s, id, l) }
      val got = buf.sortedIndices.toSeq.map(i => (buf.scores(i), buf.ids(i)))
      val want = xs.sortBy(t => (t._1, t._2)).take(k).map(t => (t._1, t._2))
      assert(got == want, s"k=$k xs=${xs.take(20)}")
    }
  }

  test("heap merge equals union then top-k (partial aggregation soundness)") {
    val caseGen = Gen.zip(Gen.chooseNum(1, 8),
      Gen.listOf(entryGen), Gen.listOf(entryGen))
    samples(caseGen, 200).foreach { case (k, xs, ys) =>
      val a = new TopKBuffer(k)
      xs.foreach { case (s, id, l) => a.insert(s, id, l) }
      val b = new TopKBuffer(k)
      ys.foreach { case (s, id, l) => b.insert(s, id, l) }
      (0 until b.size).foreach(i => a.insert(b.scores(i), b.ids(i), b.labels(i)))
      val merged = a.sortedIndices.toSeq.map(i => (a.scores(i), a.ids(i)))
      val direct = (xs ++ ys).sortBy(t => (t._1, t._2)).take(k)
        .map(t => (t._1, t._2))
      assert(merged == direct, s"k=$k")
    }
  }

  test("simhash banding finds every pair within hamming distance 3") {
    // signatures as bit-flip perturbations of a base so near pairs exist
    val flips = Gen.chooseNum(0, 6).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0, 63)))
    val caseGen = Gen.zip(Gen.long, Gen.listOfN(8, flips))
    samples(caseGen, 5).foreach { case (b, fs) =>
      val sigs = b :: fs.map(f => f.foldLeft(b)((acc, bit) => acc ^ (1L << bit)))
      val ids = sigs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      val sp = spark
      import sp.implicits._
      val got = graft.ext.Dedup.simhashPairs(ids.toDF("doc_id", "simhash"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        (i, si) <- ids; (j, sj) <- ids
        if i < j && java.lang.Long.bitCount(si ^ sj) <= 3
      } yield (i, j)).toSet
      assert(got == want, s"base=$b flips=$fs")
    }
  }

  test("inverted-index jaccard pairs equal brute force on random corpora") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps",
      "zeta", "eta", "theta")
    val doc = Gen.chooseNum(2, 10).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpusGen = Gen.chooseNum(2, 15).flatMap(n => Gen.listOfN(n, doc))
    samples(corpusGen, 5).foreach { docs =>
      val sp = spark
      import sp.implicits._
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.ext.Dedup.jaccardPairs(graft.ext.Dedup.shingleSets(df))
        .select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def shingles(t: String): Set[String] = {
        val w = t.split(" ")
        if (w.length < 4) Set.empty
        else w.sliding(4).map(_.mkString(" ")).toSet
      }
      val sh = docs.map(shingles)
      val want = (for {
        i <- docs.indices; j <- docs.indices
        if i < j && sh(i).nonEmpty && sh(j).nonEmpty &&
          3 * (sh(i) & sh(j)).size >= sh(i).size + sh(j).size
      } yield (i.toLong, j.toLong)).toSet
      assert(got == want, s"docs=$docs")
    }
  }

  test("top-k window rewrite equals the unrewritten plan for arbitrary " +
      "data, k, and sort direction (nulls and ties included)") {
    // the whole-plan rewrite must be semantics-preserving for EVERY
    // total-ordered row_number window filter, not just the cosine key:
    // random groups/values (nulls, heavy ties), random k, both
    // directions — rule-on vs rule-off row sets must be identical
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.{col, row_number}
    val rowsGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(0, 6),
      Gen.option(Gen.chooseNum(0, 4)))) // few distinct values → ties
    val cases = samples(Gen.zip(rowsGen, Gen.chooseNum(1, 5),
      Gen.oneOf(true, false), Gen.oneOf(true, false)), 6)
    cases.foreach { case (rows, k, asc, nullsFirst) =>
      val df = rows.zipWithIndex
        .map { case ((g, v), i) => (g, v, i.toLong) }
        .toDF("g", "v", "id")
      val vOrd = (asc, nullsFirst) match {
        case (true, true) => col("v").asc_nulls_first
        case (true, false) => col("v").asc_nulls_last
        case (false, true) => col("v").desc_nulls_first
        case (false, false) => col("v").desc_nulls_last
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(vOrd, col("id").asc)
      def run() = df.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k).collect()
        .map(r => (r.getInt(0), if (r.isNullAt(1)) -99 else r.getInt(1),
          r.getLong(2), r.getInt(3))).toSet
      val control = run()
      val rewritten = withRules(graft.plans.TopKRewrite)(run())
      assert(rewritten == control,
        s"k=$k asc=$asc nf=$nullsFirst missing=${(control -- rewritten).take(3)} " +
          s"extra=${(rewritten -- control).take(3)} rows=${rows.take(12)}")
    }
  }

  test("top-k rewrite with an alias-only select between window and " +
      "filter equals the unrewritten plan for arbitrary data and k") {
    // r13: the Filter(Project(Window)) spelling — rename/reorder/drop
    // between the window and the rank bound — must stay semantics-
    // preserving whichever normalization (Catalyst pushdown or the
    // rule's own Project matcher) fires first
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.{col, row_number}
    val rowsGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(0, 6), Gen.option(Gen.chooseNum(0, 4))))
    val cases = samples(Gen.zip(rowsGen, Gen.chooseNum(1, 5)), 5)
    cases.foreach { case (rows, k) =>
      val df = rows.zipWithIndex
        .map { case ((g, v), i) => (g, v, i.toLong) }
        .toDF("g", "v", "id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("v").asc_nulls_last, col("id"))
      def run() = df.withColumn("rank", row_number().over(w))
        .select(col("rank").as("rnk"), col("id"), col("g").as("grp"))
        .filter(col("rnk") <= k).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
      val control = run()
      val rewritten = withRules(graft.plans.TopKRewrite)(run())
      assert(rewritten == control,
        s"k=$k missing=${(control -- rewritten).take(3)} " +
          s"extra=${(rewritten -- control).take(3)} rows=${rows.take(12)}")
    }
  }

  test("RankRowsBuffer invariants: insert/trim/merge equal the brute " +
      "reference for random streams, ks, and both modes") {
    // JVM-level fuzz of the tie-keeping buffer itself (the e2e
    // property above goes through Spark; this one pins the data
    // structure: rank() keeps rows with < k strictly-smaller rows,
    // dense_rank() the k smallest distinct keys — any split of the
    // stream merged back must agree with one pass and with brute force)
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val ord: Ordering[InternalRow] =
      Ordering.by((r: InternalRow) => r.getLong(0))
    def row(v: Long, id: Long): InternalRow =
      new GenericInternalRow(Array[Any](v, id))
    def brute(vals: Seq[(Long, Long)], k: Int, dense: Boolean)
        : Map[Long, Int] = {
      // (value, id) -> rank, keeping only rank <= k survivors
      val sorted = vals.sortBy(_._1)
      val out = scala.collection.mutable.Map.empty[Long, Int]
      if (dense) {
        val keys = sorted.map(_._1).distinct.take(k).toSet
        val rankOf = sorted.map(_._1).distinct.zipWithIndex.toMap
        sorted.foreach { case (v, id) =>
          if (keys(v)) out(id) = rankOf(v) + 1 }
      } else {
        sorted.zipWithIndex.foreach { case ((v, id), i) =>
          val rank = sorted.indexWhere(_._1 == v) + 1 // first order-equal
          if (rank <= k) out(id) = rank
        }
      }
      out.toMap
    }
    val gen = Gen.zip(
      Gen.listOf(Gen.zip(Gen.chooseNum(0L, 6L), Gen.chooseNum(0L, 999L))),
      Gen.chooseNum(1, 5), Gen.oneOf(true, false),
      Gen.chooseNum(0, 10))
    samples(gen, 40).foreach { case (pairs0, k, dense, splitSeed) =>
      // unique ids so the brute map is well-defined
      val pairs = pairs0.zipWithIndex.map { case ((v, _), i) =>
        (v, i.toLong) }
      val want = brute(pairs, k, dense)
      // one-pass buffer
      val b1 = new graft.functions.RankRowsBuffer(k, dense, ord)
      pairs.foreach { case (v, id) => b1.insert(row(v, id)) }
      def got(b: graft.functions.RankRowsBuffer): Map[Long, Int] =
        b.ranked.map { case (r, rank) => r.getLong(1) -> rank }.toMap
      assert(got(b1) == want,
        s"one-pass k=$k dense=$dense pairs=${pairs.take(10)} " +
          s"got=${got(b1)} want=$want")
      // split-and-merge (the partial-aggregation path)
      val cut = if (pairs.isEmpty) 0 else splitSeed % (pairs.length + 1)
      val (a, c) = pairs.splitAt(cut)
      val ba = new graft.functions.RankRowsBuffer(k, dense, ord)
      val bc = new graft.functions.RankRowsBuffer(k, dense, ord)
      a.foreach { case (v, id) => ba.insert(row(v, id)) }
      c.foreach { case (v, id) => bc.insert(row(v, id)) }
      bc.allRows.foreach(ba.insert)
      assert(got(ba) == want,
        s"merged k=$k dense=$dense cut=$cut got=${got(ba)} want=$want")
      // retention bound: rank mode holds < k + boundary-tie-width rows
      if (!dense && b1.totalRows > 0)
        assert(b1.totalRows == want.size, "buffer holds exactly the output")
    }
  }

  test("rank/dense_rank top-k rewrite equals the unrewritten plan over " +
      "heavy ties, both directions, nulls included (r11 punch #1)") {
    // the tie-keeping contract: rank() <= k must keep EVERY row
    // order-equal to the k-th (boundary tie groups survive whole),
    // dense_rank() <= k the k smallest distinct keys — over data built
    // to tie constantly (values from a 3-element domain plus nulls),
    // rule-on vs rule-off row sets must match exactly in both sort
    // directions and both null orderings
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.{col, rank, dense_rank}
    val rowsGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(0, 4),
      Gen.option(Gen.chooseNum(0, 2)))) // 3-value domain -> heavy ties
    val cases = samples(Gen.zip(rowsGen, Gen.chooseNum(1, 4),
      Gen.oneOf(true, false), Gen.oneOf(true, false),
      Gen.oneOf(true, false)), 8)
    cases.foreach { case (rows, k, asc, nullsFirst, dense) =>
      val df = rows.zipWithIndex
        .map { case ((g, v), i) => (g, v, i.toLong) }
        .toDF("g", "v", "id")
      val vOrd = (asc, nullsFirst) match {
        case (true, true) => col("v").asc_nulls_first
        case (true, false) => col("v").asc_nulls_last
        case (false, true) => col("v").desc_nulls_first
        case (false, false) => col("v").desc_nulls_last
      }
      // NO id tiebreak: ties must be real so whole tie groups cross k
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(vOrd)
      val rk = if (dense) dense_rank().over(w) else rank().over(w)
      def run() = df.withColumn("rnk", rk)
        .filter(col("rnk") <= k).collect()
        .map(r => (r.getInt(0), if (r.isNullAt(1)) -99 else r.getInt(1),
          r.getLong(2), r.getInt(3))).toSet
      val control = run()
      val rewritten = withRules(graft.plans.TopKRewrite)(run())
      assert(rewritten == control,
        s"k=$k asc=$asc nf=$nullsFirst dense=$dense " +
          s"missing=${(control -- rewritten).take(3)} " +
          s"extra=${(rewritten -- control).take(3)} rows=${rows.take(12)}")
    }
  }

  test("pagination top-k rewrite equals the unrewritten plan for " +
      "arbitrary data, page bounds, and all three ranking functions") {
    // r12: `rank BETWEEN a AND b` (a > 1) rewrites too — the heap is
    // sized by b, the lower bound re-applies over the rebuilt rank
    // column. Equality must hold for every page window, including
    // pages past the data (empty result), a == b (`rank = n` via
    // BETWEEN), and the tie-keeping modes. row_number uses a total
    // order (id tiebreak) so pages are deterministic; rank/dense_rank
    // run over heavy ties with no tiebreak.
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.{col, row_number, rank, dense_rank}
    val rowsGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(0, 4),
      Gen.option(Gen.chooseNum(0, 2))))
    val cases = samples(Gen.zip(rowsGen,
      Gen.chooseNum(1, 4), Gen.chooseNum(0, 3), // lo, extra (hi = lo+extra)
      Gen.oneOf(true, false), Gen.oneOf(0, 1, 2)), 8)
    cases.foreach { case (rows, lo, extra, asc, mode) =>
      val hi = lo + extra
      val df = rows.zipWithIndex
        .map { case ((g, v), i) => (g, v, i.toLong) }
        .toDF("g", "v", "id")
      val vOrd = if (asc) col("v").asc_nulls_first
        else col("v").desc_nulls_last
      val w0 = org.apache.spark.sql.expressions.Window.partitionBy("g")
      // row_number needs a total order for a deterministic page
      val w = if (mode == 0) w0.orderBy(vOrd, col("id").asc)
        else w0.orderBy(vOrd)
      val rk = mode match {
        case 0 => row_number().over(w)
        case 1 => rank().over(w)
        case _ => dense_rank().over(w)
      }
      def run() = df.withColumn("rnk", rk)
        .filter(col("rnk").between(lo, hi)).collect()
        .map(r => (r.getInt(0), if (r.isNullAt(1)) -99 else r.getInt(1),
          r.getLong(2), r.getInt(3))).toSet
      val control = run()
      val rewritten = withRules(graft.plans.TopKRewrite)(run())
      assert(rewritten == control,
        s"page=[$lo,$hi] asc=$asc mode=$mode " +
          s"missing=${(control -- rewritten).take(3)} " +
          s"extra=${(rewritten -- control).take(3)} rows=${rows.take(12)}")
    }
  }

  test("URL canonicalization equals a direct JVM reference over " +
      "generated URLs: case, ports, www, params, fragments composed") {
    // the planted corpus covers the designed variants; this fuzzes the
    // POLICY over arbitrary compositions (scheme case x port x www x
    // trailing slashes x tracking/real param mixes x fragment) against
    // an independent straight-line JVM canonicalizer of the documented
    // rules — the regexp chain must agree on every composition
    def reference(url: String): String = {
      val noFrag = url.takeWhile(_ != '#')
      // unparseable (no scheme://host): canonical = the raw string
      if (!noFrag.matches("^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+.*"))
        return url
      val afterScheme = noFrag.substring(noFrag.indexOf("://") + 3)
      val scheme = noFrag.substring(0, noFrag.indexOf("://"))
        .toLowerCase(java.util.Locale.ROOT)
      val hostEnd = afterScheme.indexWhere(c => c == '/' || c == '?')
      val hostport = (if (hostEnd < 0) afterScheme
        else afterScheme.take(hostEnd)).toLowerCase(java.util.Locale.ROOT)
      val noPort =
        if (scheme == "http" && hostport.endsWith(":80"))
          hostport.dropRight(3)
        else if (scheme == "https" && hostport.endsWith(":443"))
          hostport.dropRight(4)
        else hostport
      val host = if (noPort.startsWith("www.")) noPort.drop(4) else noPort
      val rest = if (hostEnd < 0) "" else afterScheme.drop(hostEnd)
      val qStart = rest.indexOf('?')
      val path0 = if (qStart < 0) rest else rest.take(qStart)
      val path1 = path0.reverse.dropWhile(_ == '/').reverse
      val path = if (path1.isEmpty) "/" else path1
      val q0 = if (qStart < 0) "" else rest.drop(qStart)
      val query = if (q0.isEmpty) "" else {
        val parts = q0.drop(1).split("&", -1).filterNot(p =>
          p.matches("(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&]*"))
        if (parts.isEmpty) "" else parts.mkString("?", "&", "")
      }
      host + path + query
    }
    val schemeGen = Gen.oneOf("http", "https", "HTTP", "Https", "HTTPS")
    val hostGen = Gen.oneOf("site.org", "Site.Org", "www.site.org",
      "WWW.SITE.ORG", "a.b.site.org")
    val portGen = Gen.oneOf("", ":80", ":443", ":8080")
    val pathGen = Gen.oneOf("", "/", "/a", "/a/B", "/a/", "/a//", "/a/B/")
    val paramGen = Gen.someOf(Seq("utm_source=x", "utm_campaign=Y",
      "fbclid=123", "gclid=z", "page=2", "id=A7", "q=hello"))
    val fragGen = Gen.oneOf("", "#top", "#a?b")
    val urlGen = for {
      sc <- schemeGen; h <- hostGen; po <- portGen; pa <- pathGen
      ps <- paramGen; fr <- fragGen
    } yield s"$sc://$h$po$pa" +
      (if (ps.isEmpty) "" else ps.mkString("?", "&", "")) + fr
    // malformed inputs: the explicit policy is exact-string identity
    val badGen = Gen.oneOf("", "not a url", "missing-scheme.org/a",
      "http:/one-slash.org", "://no-scheme", "ftp//x", "/rel/path?q=1")
    val sp = spark
    import sp.implicits._
    val urls = (samples(urlGen, 120) ++ samples(badGen, 7)).distinct
    val got = urls.toDF("u")
      .select(org.apache.spark.sql.functions.col("u"),
        graft.ext.UrlOps.canonicalUrl(
          org.apache.spark.sql.functions.col("u")).as("c"),
        graft.ext.UrlOps.canonicalHost(
          org.apache.spark.sql.functions.col("u")).as("h"))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getString(2))).toMap
    urls.foreach { u =>
      val want = reference(u)
      assert(got(u)._1 == want, s"url=$u got=${got(u)._1} want=$want")
      assert(want.startsWith(got(u)._2), s"host not a prefix: $u")
    }
  }

  test("range-join rewrite equals brute force for arbitrary intervals " +
      "incl. sentinel, empty, null, and extreme bounds") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    val ptGen = Gen.oneOf(Gen.chooseNum(-500L, 500L),
      Gen.oneOf(Long.MinValue, Long.MaxValue, Long.MaxValue - 1, 0L))
    val boundGen = Gen.option(Gen.oneOf(
      Gen.chooseNum(-400L, 400L),
      Gen.oneOf(Long.MinValue, Long.MaxValue, -1L, 1L)))
    val caseGen = Gen.zip(
      Gen.nonEmptyListOf(ptGen),
      Gen.nonEmptyListOf(Gen.zip(boundGen, boundGen)))
    try {
      samples(caseGen, 6).zipWithIndex.foreach { case ((pts0, ivs0), ci) =>
        val pts = pts0.distinct.toDF("pt")
        val ivs = ivs0.zipWithIndex
          .map { case ((lo, hi), i) => (lo, hi, i) }
          .toDF("lo", "hi", "id")
        def run() =
          pts.join(ivs, col("pt") >= col("lo") && col("pt") < col("hi"))
            .select("id", "pt").collect()
            .map(r => (r.getInt(0), r.getLong(1))).toSet
        spark.conf.unset(graft.plans.RangeJoinRewrite.BinConf)
        val brute = run()
        val fixed = withRules(graft.plans.RangeJoinRewrite) {
          spark.conf.set(graft.plans.RangeJoinRewrite.BinConf, "64")
          try run()
          finally spark.conf.unset(graft.plans.RangeJoinRewrite.BinConf)
        }
        assert(fixed == brute, s"case $ci (fixed bin): " +
          s"missing=${(brute -- fixed).take(3)} extra=${(fixed -- brute).take(3)}")
        val auto = withRules(graft.plans.RangeJoinRewrite)(run())
        assert(auto == brute, s"case $ci (auto bin): " +
          s"missing=${(brute -- auto).take(3)} extra=${(auto -- brute).take(3)}")
      }
    } finally spark.conf.unset(graft.plans.RangeJoinRewrite.BinConf)
  }

  test("top-k heap treats NaN as worse than every finite score") {
    val buf = new TopKBuffer(3)
    buf.insert(Double.NaN, 1L, 0)
    buf.insert(Double.NaN, 2L, 0)
    buf.insert(5.0, 3L, 0)
    // finite scores arriving after the heap holds NaNs must evict them
    buf.insert(1.0, 4L, 0)
    buf.insert(2.0, 5L, 0)
    val got = buf.sortedIndices.toSeq.map(i => (buf.scores(i), buf.ids(i)))
    assert(got == Seq((1.0, 4L), (2.0, 5L), (5.0, 3L)), got.toString)
    // and -0.0 is normalized: ties resolve by id, not by signed zero
    val b2 = new TopKBuffer(1)
    b2.insert(0.0, 9L, 0)
    b2.insert(-0.0, 2L, 0)
    assert(b2.ids(0) == 2L)
  }

  test("prefix filtering equals the full inverted index on random corpora") {
    import graft.ext.Dedup
    val sp = spark
    import sp.implicits._
    // tiny vocabulary forces heavy shingle sharing — the adversarial
    // regime for candidate pruning (hot shingles everywhere, docs of
    // wildly different lengths, sub-4-word docs with no shingles)
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val doc = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    val corpusGen = Gen.listOfN(40, doc)
    samples(corpusGen, 4).foreach { texts =>
      val corpus = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val sh = Dedup.shingleSets(corpus)
      def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val full = pairs(Dedup.jaccardPairs(sh))
      val pref = pairs(Dedup.jaccardPairsPrefix(sh))
      assert(pref == full,
        s"corpus=$texts missing=${(full -- pref).take(3)} " +
          s"extra=${(pref -- full).take(3)}")
    }
  }

  test("connected components equal driver-side union-find on random graphs") {
    import graft.ext.Dedup
    val sp = spark
    import sp.implicits._
    val n = 30
    val edgeGen = Gen.listOfN(25, Gen.zip(
      Gen.chooseNum(0L, n - 1L), Gen.chooseNum(0L, n - 1L)))
      .map(_.filter { case (a, b) => a != b })
    samples(edgeGen, 4).foreach { edges =>
      val nodes = (0L until n.toLong).toDF("doc_id")
      // BOTH execution paths must agree with the reference: the r20
      // bounded-edge driver shortcut (the default at this size) and
      // the distributed min-label fixed point (cap disabled)
      val got = Dedup.connectedComponents(nodes, edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      sp.conf.set("spark.graft.cc.driverEdges", "0")
      val gotDist =
        try Dedup.connectedComponents(nodes, edges.toDF("a", "b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        finally sp.conf.unset("spark.graft.cc.driverEdges")
      // reference: plain union-find with min-label normalization
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      assert(got == want, s"edges=$edges diff=${
        (want.toSet -- got.toSet).take(5)}")
      assert(gotDist == want, s"distributed path: edges=$edges diff=${
        (want.toSet -- gotDist.toSet).take(5)}")
    }
  }

  test("V2 offset JSON round-trips arbitrary segment paths") {
    import graft.connector.LogOffsetV2
    val paths = Gen.listOf(Gen.oneOf(
      Gen.asciiPrintableStr.map("/seg/" + _),
      Gen.oneOf("/a/part-0001", "/dir with space/f", "/q\"uote", "/b\\slash")))
    samples(paths, 50).foreach { ps =>
      val off = LogOffsetV2("/seg/segment-00000000000000000099-x.json",
        Set("/seg/segment-00000000000000000007-h.json"), ps.toSet, 42L)
      val back = LogOffsetV2.fromJson(off.json())
      assert(back == off, s"paths=$ps")
      // legacy array offsets still deserialize (old checkpoints)
      val legacy = LogOffsetV2.fromJson(
        ps.map(p => com.fasterxml.jackson.databind.node.TextNode.valueOf(p)
          .toString).mkString("[", ",", "]"))
      assert(legacy.extra == ps.toSet && legacy.watermark.isEmpty)
    }
  }

  test("AVI mux/demux round-trips arbitrary raster streams bit-exactly") {
    import graft.ext.{ImageCodec, VideoCodec}
    // arbitrary dims (incl. widths whose 3-byte rows need 1-3 pad
    // bytes — the stride-alignment edge), arbitrary frame counts and
    // arbitrary 24-bit pixels
    val caseGen = for {
      w <- Gen.chooseNum(1, 37)
      h <- Gen.chooseNum(1, 23)
      n <- Gen.chooseNum(1, 5)
      seed <- Gen.long
    } yield (w, h, n, seed)
    samples(caseGen, 40).foreach { case (w, h, n, seed) =>
      var z = seed
      def next(): Int = {
        z = z * 6364136223846793005L + 1442695040888963407L
        (((z >>> 33) & 0xFFFFFF) | 0xFF000000L).toInt
      }
      val frames = (0 until n).map(_ =>
        ImageCodec.DecodedImage(w, h, 3, Array.fill(w * h)(next())))
      val back = VideoCodec.decodeAviFrames(VideoCodec.encodeAvi(frames))
      assert(back.length == n, s"w=$w h=$h n=$n")
      frames.zip(back).foreach { case (a, b) =>
        assert(b.width == w && b.height == h)
        assert(b.argb.toSeq == a.argb.toSeq, s"w=$w h=$h n=$n seed=$seed")
      }
    }
  }

  test("count-min never undercounts and merges exactly, for arbitrary streams") {
    val streamGen = Gen.nonEmptyListOf(Gen.chooseNum(-5000L, 5000L))
    samples(streamGen, 25).foreach { keys =>
      val d = 3
      val w = 64
      // driver-side reference fold through the SAME buffer class the
      // aggregate uses, split at an arbitrary point and merged — the
      // partial-aggregation path
      val whole = new graft.functions.CMBuffer(d, w)
      keys.foreach(whole.add)
      val cut = keys.length / 2
      val left = new graft.functions.CMBuffer(d, w)
      val right = new graft.functions.CMBuffer(d, w)
      keys.take(cut).foreach(left.add)
      keys.drop(cut).foreach(right.add)
      var i = 0
      while (i < left.grid.length) {
        left.grid(i) += right.grid(i); i += 1
      }
      left.total += right.total
      assert(left.grid.toSeq == whole.grid.toSeq && left.total == whole.total,
        s"merge diverged for n=${keys.length}")
      // one-sided estimates for every key in the stream
      val exact = keys.groupBy(identity).map { case (k, v) => k -> v.size }
      exact.foreach { case (k, c) =>
        val est = (0 until d).map(i =>
          whole.grid(i * w + graft.functions.CountMinSketch.bucket(k, i, w))).min
        assert(est >= c, s"undercount for $k: $est < $c")
      }
    }
  }

  test("bloom dedup emits each distinct key at most once, in any batch split") {
    val streamGen = Gen.nonEmptyListOf(Gen.chooseNum(0L, 2000L))
    samples(streamGen, 15).foreach { keys =>
      val mBits = 8192
      // simulate the shard fold across an arbitrary 2-batch split with
      // carried state, exactly as flatMapGroupsWithState would drive it
      val cut = keys.length / 2
      val s0 = org.apache.spark.sql.streaming.TestGroupState
        .create[graft.streaming.BloomEpochState](
          org.apache.spark.api.java.Optional.empty(),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
          0L, org.apache.spark.api.java.Optional.empty(), hasTimedOut = false)
      val out1 = graft.streaming.StreamingDedup.updateBloomShard(mBits)(
        0, keys.take(cut).map(k => graft.streaming.TsKey(0, k, 0L)).iterator,
        s0).toList
      val s1 = org.apache.spark.sql.streaming.TestGroupState
        .create[graft.streaming.BloomEpochState](
          org.apache.spark.api.java.Optional.of(s0.get),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
          0L, org.apache.spark.api.java.Optional.empty(), hasTimedOut = false)
      val out2 = graft.streaming.StreamingDedup.updateBloomShard(mBits)(
        0, keys.drop(cut).map(k => graft.streaming.TsKey(0, k, 0L)).iterator,
        s1).toList
      val all = out1 ++ out2
      assert(all.size == all.distinct.size,
        s"duplicate emitted across the batch split (n=${keys.length})")
      assert(all.toSet.subsetOf(keys.toSet))
    }
  }

  test("bloom/rotating dedup state is EXACTLY mBits/64 words per shard, " +
      "flat as distinct keys scale 100x (the 2·G·m contract)") {
    // r15 verdict #5: StreamingDedup documents permanently-bounded
    // state (G·m bits fixed / 2·G·m rotating) — pin it as a property
    // so an edit can't silently reintroduce per-key state (e.g. an
    // exact-set fallback or a growable side map). Batches of
    // geometrically growing key counts fold through the SAME carried
    // state the way flatMapGroupsWithState drives it; after EVERY
    // batch the stored value is the fixed word count, independent of
    // how many distinct keys the shard has absorbed.
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val mBits = 4096
    val words = mBits / 64
    // plain bloom: ONE generation of exactly `words` longs, no second
    // generation; rotating: epoch + two generations, each exactly
    // `words` longs, across batches that also ROTATE epochs (ts
    // advances past the retention) — rotation must swap arrays, never
    // accumulate them
    val R = 1000L
    Seq(None, Some(R)).foreach { retention =>
      var st0: graft.streaming.BloomEpochState = null
      Seq(10, 100, 1000, 10000).zipWithIndex.foldLeft(0L) {
        case (base, (n, i)) =>
          val st = TestGroupState.create[graft.streaming.BloomEpochState](
            if (st0 == null) Optional.empty() else Optional.of(st0),
            GroupStateTimeout.NoTimeout, 0L, Optional.empty(),
            hasTimedOut = false)
          graft.streaming.StreamingDedup.updateBloomShard(mBits, retention)(
            0, (base until base + n).map(k =>
              graft.streaming.TsKey(0, k, i * R + 5L)).iterator, st)
            .size: Unit
          st0 = st.get
          val prevWords = if (retention.isEmpty) 0 else words
          assert(st0.active.length == words &&
              st0.prev.length == prevWords,
            s"bloom state (retention $retention) grew to " +
              s"${st0.active.length}/${st0.prev.length} words after " +
              s"${base + n} keys")
          base + n
      }: Unit
    }
  }

  test("a replayed near-dup doc is a no-op: bucket state does not grow " +
      "and no pair is re-emitted") {
    // a re-delivered doc_id (upstream replay / duplicate ingest) must not
    // re-enter bucket state, across batches or within one: appending it
    // again would double the bucket and re-emit every later pair
    // involving the doc. Drives the verify function the way
    // flatMapGroupsWithState does, with carried state.
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    def doc(id: Long) =
      graft.streaming.BandedDoc(0, 7L, id, Seq(1L, 2L, 3L, 4L), null)
    var st0: Seq[graft.streaming.BandedDoc] = null
    def batch(ids: Long*): Set[(Long, Long)] = {
      val st = TestGroupState.create[Seq[graft.streaming.BandedDoc]](
        if (st0 == null) Optional.empty() else Optional.of(st0),
        GroupStateTimeout.NoTimeout, 0L, Optional.empty(),
        hasTimedOut = false)
      val out = graft.streaming.StreamingDedup.verifyBucket()(
        (0, 7L), ids.map(doc).iterator, st).map(p => (p.a, p.b)).toList
      assert(out.size == out.distinct.size, s"pair emitted twice: $out")
      st0 = st.get
      out.toSet
    }
    assert(batch(1L).isEmpty)
    assert(batch(1L).isEmpty, "a replayed doc paired with itself")
    assert(st0.map(_.doc_id) == Seq(1L), s"replay grew state: $st0")
    // a match plus an in-batch duplicate of it: one pair, one state entry
    assert(batch(2L, 2L) == Set((1L, 2L)))
    assert(st0.map(_.doc_id) == Seq(1L, 2L), s"duplicate grew state: $st0")
    // replaying the first doc after the match re-emits nothing
    assert(batch(1L).isEmpty, "a replayed doc re-emitted its pair")
    assert(st0.map(_.doc_id) == Seq(1L, 2L))
  }

  test("shinglesUdf equals the declarative shingles for arbitrary " +
      "whitespace-riddled text (the r14 tokensWs alignment)") {
    // r13 ADVICE closed: the UDF and the native spelling must tokenize
    // IDENTICALLY for every input — including edge/internal tabs,
    // newlines, CR, FF, VT — or the shingle guard's equivalence proof
    // breaks. Generator: words over a tiny alphabet joined by random
    // runs of mixed whitespace, with random whitespace padding.
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    val ws = Gen.nonEmptyListOf(
      Gen.oneOf(' ', '\t', '\n', '\r', '\f', '\u000B')).map(_.mkString)
    val word = Gen.choose(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val textGen = for {
      lead <- Gen.oneOf(Gen.const(""), ws)
      words <- Gen.listOfN(6, word)
      seps <- Gen.listOfN(6, ws)
      trail <- Gen.oneOf(Gen.const(""), ws)
    } yield lead + words.zip(seps).map { case (w, s) => w + s }
      .mkString.dropRight(seps.last.length) + trail
    val texts = samples(textGen, 60) ++
      Seq("", " ", "\t", "\n\n", "a", "\ta b c", "a b c\n", "a b")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        graft.ext.TextAnalysis.shinglesUdf(3)(col("text")).as("u"),
        graft.ext.TextAnalysis.shingles(col("text"), 3).as("n"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[String](1).toSet == r.getSeq[String](2).toSet,
        s"doc ${r.getLong(0)} (${texts(r.getLong(0).toInt).map(_.toInt)}): " +
          s"udf=${r.getSeq[String](1)} native=${r.getSeq[String](2)}")
    }
    // and the guard equivalence itself: size(tokensWs) >= n iff the
    // UDF's shingle array is non-empty — for EVERY generated input
    val g = df.select(col("doc_id"),
        (org.apache.spark.sql.functions
          .size(graft.ext.TextAnalysis.tokensWs(col("text"))) >= 3).as("p"),
        graft.ext.TextAnalysis.shinglesUdf(3)(col("text")).as("u"))
      .collect()
    g.foreach(r => assert(r.getBoolean(1) == r.getSeq[String](2).nonEmpty,
      s"guard mismatch on doc ${r.getLong(0)}"))
    // r20 hashed-shingle pin: shingleHashesUdf == tokenHash of each
    // declarative string shingle, same order — the identity every
    // consumer (inverted index, verify intersect, MinHash base,
    // published segments) now rides on
    val h = df.select(col("doc_id"),
        graft.ext.TextAnalysis.shingleHashesUdf(3)(col("text")).as("h"),
        graft.ext.TextAnalysis.shinglesUdf(3)(col("text")).as("u"))
      .collect()
    h.foreach { r =>
      val want = r.getSeq[String](2).map(graft.ext.TextAnalysis.tokenHash)
      assert(r.getSeq[Long](1) == want,
        s"hashed-shingle mismatch on doc ${r.getLong(0)}: " +
          s"got=${r.getSeq[Long](1)} want=$want")
    }
  }

  test("DSIR featureBuckets ignores edge whitespace and counts " +
      "2w-1 features for w words, for arbitrary padding") {
    val ws = Gen.nonEmptyListOf(
      Gen.oneOf(' ', '\t', '\n', '\r', '\f', '\u000B')).map(_.mkString)
    val word = Gen.choose(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
    val gen = for {
      lead <- Gen.oneOf(Gen.const(""), ws)
      words <- Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, word))
      trail <- Gen.oneOf(Gen.const(""), ws)
    } yield (words, lead + words.mkString(" ") + trail)
    samples(gen, 80).foreach { case (words, padded) =>
      val bare = graft.ext.Dsir.featureBuckets(words.mkString(" ")).toSeq
      val pad = graft.ext.Dsir.featureBuckets(padded).toSeq
      assert(pad == bare, s"padding changed the feature bag: '$padded'")
      assert(bare.length == 2 * words.length - 1,
        s"expected ${2 * words.length - 1} features for ${words.length} words")
    }
  }

  test("publishTag is injective across distinct dirs and stable across " +
      "spellings of the same dir") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ptag").toString
    new java.io.File(s"$tmp/a/sf0.01").mkdirs()
    new java.io.File(s"$tmp/b/sf0.01").mkdirs()
    val ta = Work.publishTag(s"$tmp/a/sf0.01")
    val tb = Work.publishTag(s"$tmp/b/sf0.01")
    // same basename, different dirs → DIFFERENT tags (the r13 ADVICE
    // collision class: _SUCCESS short-circuit serving stale stats)
    assert(ta != tb, s"same-basename dirs collided: $ta")
    assert(ta.startsWith("sf0.01_") && tb.startsWith("sf0.01_"))
    // trailing-slash / dot spellings of the SAME dir → same tag
    // (concurrent JVMs must still share one published table)
    assert(Work.publishTag(s"$tmp/a/sf0.01/") == ta)
    assert(Work.publishTag(s"$tmp/a/./sf0.01") == ta)
  }
}
