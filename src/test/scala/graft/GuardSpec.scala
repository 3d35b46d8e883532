package graft

import org.apache.spark.sql.functions._

/** Error-path tests: the guard rails that keep misuse loud — caps,
  * malformed inputs, unknown registry entries, invalid parameters.
  * Each failure must be an immediate, pointed error, not silent wrong
  * results (the failure mode that actually costs at 100 TB).
  */
class GuardSpec extends SparkSpec {

  test("events.ts loads as canonical long epoch-nanos for both testdata vintages") {
    import org.apache.spark.sql.types.LongType
    // The driver has shipped events.ts as parquet TIMESTAMP(NANOS)
    // (Spark reads long — the engine's native shape) and, since round 8,
    // as timestamp[us] (Spark reads TIMESTAMP_NTZ). Tables.normalize must
    // present long nanos either way: every consumer does `ts div 1000` to
    // meet the oracle's `epoch_us(ts)`, and round 8 lost 11 keys when the
    // vintage flipped. Real testdata first:
    val df = Tables(spark, sf, "events")
    assert(df.schema("ts").dataType == LongType)
    // micros-precision source → nanos are an exact ×1000 of epoch-micros
    val row = df.selectExpr("min(ts)", "min(ts) div 1000").head
    assert(row.getLong(0) == row.getLong(1) * 1000L)
    // and a synthetic timestamp-typed events.parquet normalizes to the
    // same representation with exact micros preserved
    val tmp = java.nio.file.Files.createTempDirectory("graft_ts").toString
    spark.sql("SELECT TIMESTAMP_NTZ'2024-01-02 03:04:05.678901' AS ts")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val norm = Tables(spark, tmp, "events")
    assert(norm.schema("ts").dataType == LongType)
    assert(norm.head.getLong(0) == 1704164645678901000L)
  }

  test("collect_to_driver refuses over-cap results without a second scan") {
    val big = Tables(spark, sf, "documents")
    val e = intercept[IllegalArgumentException](
      graft.ops.Parity.collectToDriver(big, maxRows = 10))
    assert(e.getMessage.contains("refused"))
  }

  test("V2 offset deserialization rejects malformed JSON") {
    intercept[Exception](
      graft.connector.LogOffsetV2.fromJson("not json at all ["))
    ()
  }

  test("registry rejects stage updates for unknown versions") {
    val wd = s"${Work.dir}/test_guard_reg"
    Work.clean(wd)
    val reg = new graft.registry.Registry(wd, new graft.workflow.EventBus)
    reg.registerModel("m")
    val e = intercept[IllegalArgumentException](
      reg.updateModelVersionStage("m", version = 7, graft.registry.Stage.Deployed))
    assert(e.getMessage.contains("unknown version"))
  }

  test("KNN prediction with an empty reference set fails loudly") {
    val e = intercept[IllegalArgumentException](
      graft.ml.Knn.predictFn(spark, Array.empty, k = 5))
    assert(e.getMessage.contains("empty reference set"))
  }

  test("Tables.spread: identity on a multi-file scan (cluster posture, " +
      "no exchange added), repartition on a single small file, rows " +
      "unchanged either way") {
    // the committed claim (SCALE.md: "at cluster scale spread is
    // identity — testdata regenerated multi-file would make every
    // spread a no-op") gets its pin: re-write documents as many files
    // and spread must hand the frame back untouched
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_spread")
      .toString
    val want = spark.sparkContext.defaultParallelism
    docs.repartition(want * 2).write.mode("overwrite")
      .parquet(s"$tmp/documents.parquet")
    val multi = spark.read.parquet(s"$tmp/documents.parquet")
    assert(Tables.spread(multi) eq multi,
      "multi-file scan must spread as IDENTITY (no exchange)")
    // single small file → genuinely 1 scan split → spread repartitions
    docs.coalesce(1).write.mode("overwrite")
      .parquet(s"$tmp/one.parquet")
    val one = spark.read.parquet(s"$tmp/one.parquet")
    val spreadOne = Tables.spread(one)
    assert(spreadOne ne one, "single-file scan must spread")
    assert(spreadOne.rdd.getNumPartitions == want)
    // rows unchanged in both postures
    assert(spreadOne.count() == docs.count())
    assert(Tables.spread(multi).count() == docs.count())
    // the plan-side estimate (not the .rdd fallback) is what decides:
    // file scans answer Some — including through the narrow trees the
    // call sites build (select/filter/union) — and its counts straddle
    // the gate the way the assertions above require
    assert(Tables.estimateScanPartitions(one).contains(1L))
    val estMulti = Tables.estimateScanPartitions(multi)
    assert(estMulti.exists(_ * 2 >= want), s"estimate $estMulti")
    assert(Tables.estimateScanPartitions(
      one.select("doc_id").filter(col("doc_id") >= 0).unionAll(
        one.select("doc_id"))).contains(2L))
    // non-file leaves fall back safely (estimate disarms, .rdd path)
    val sp = spark
    import sp.implicits._
    val local = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(Tables.estimateScanPartitions(local).isEmpty)
    assert(Tables.spread(local).count() == 2)
    // hive-PARTITIONED relations disarm too: the whole-listing count
    // would ignore partition pruning and could silently skip a spread
    // the pruned scan needed (r13 review) — the .rdd fallback, which
    // plans WITH PartitionFilters, must decide
    docs.withColumn("p", col("doc_id") % 4)
      .write.mode("overwrite").partitionBy("p")
      .parquet(s"$tmp/part.parquet")
    val part = spark.read.parquet(s"$tmp/part.parquet")
    assert(Tables.estimateScanPartitions(
      part.filter(col("p") === 0)).isEmpty)
    // the estimate is the planned scan's own partition count, for every
    // sf0.001 table and the multi-file rewrite
    def plannedScanPartitions(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.inputRDD.getNumPartitions.toLong
      }.sum
    (Tables.names.map(Tables(spark, sf, _)) :+ multi).foreach { df =>
      assert(Tables.estimateScanPartitions(df)
        .contains(plannedScanPartitions(df)), df.inputFiles.mkString(","))
    }
  }

  test("knn_predict_udf refuses an over-cap reference collect, naming " +
      "the conf and the distributed alternative") {
    // the parity twin of to_pandas() must fail loudly instead of OOMing
    // the driver; cap pushed below the test reference-set size
    spark.conf.set("spark.graft.knn.maxBroadcastRows", "3")
    try {
      val e = intercept[IllegalArgumentException](
        graft.ml.Knn.predictUdf.fn(spark, sf).collect())
      assert(e.getMessage.contains("maxBroadcastRows"))
      assert(e.getMessage.contains("knn_predict"))
    } finally spark.conf.unset("spark.graft.knn.maxBroadcastRows")
    // and with the cap back at default the key still runs green
    assert(graft.ml.Knn.predictUdf.fn(spark, sf).count() > 0)
  }

  test("catalog initialization without a workdir names the missing conf") {
    val cat = new graft.connector.GraftCatalog
    val e = intercept[RuntimeException](cat.initialize("badcat",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap())))
    assert(e.getMessage.contains("workdir"))
  }

  test("connectedComponents throws on non-convergence instead of partial labels") {
    val sp = spark
    import sp.implicits._
    val nodes = Seq(1L, 2L, 3L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    // non-convergence is a DISTRIBUTED-path property; the r20 driver
    // shortcut (which has no rounds) must be disabled to reach it
    sp.conf.set("spark.graft.cc.driverEdges", "0")
    try {
      val e = intercept[IllegalStateException](
        graft.ext.Dedup.connectedComponents(nodes, edges, maxIter = 1))
      assert(e.getMessage.contains("not converged"))
      // non-strict downgrades to the old warn-and-return behavior
      graft.ext.Dedup.connectedComponents(nodes, edges, maxIter = 1,
        strict = false).collect()
    } finally sp.conf.unset("spark.graft.cc.driverEdges")
    ()
  }

  test("hashBucket stays engine-portable for keys past the 63-bit overflow line") {
    val sp = spark
    import sp.implicits._
    // 5e9 * 2654435761 overflows a signed 64-bit long; the pre-reduce
    // mod 2^31 keeps the multiply in range so Spark's (non-ANSI,
    // silently wrapping) result cannot diverge from an engine that
    // errors or computes exactly (round-3 advice)
    val keys = Seq(0L, 97L, 5000000000L, Long.MaxValue)
    val got = keys.toDF("k")
      .select(graft.ops.PipelineOps.hashBucket(org.apache.spark.sql.functions.col("k")))
      .collect().map(_.getLong(0)).toSeq
    val want = keys.map { k =>
      ((BigInt(k % 2147483648L) * 2654435761L) % 4294967296L % 100).toLong
    }
    assert(got == want, s"got $got want $want")
  }

  test("registry rename is atomic: old gone, new present, uri preserved") {
    val wd = s"${Work.dir}/test_guard_rename"
    Work.clean(wd)
    val reg = new graft.registry.Registry(wd, new graft.workflow.EventBus)
    reg.registerDataset("a", "csv", "/data/a.csv")
    reg.registerDataset("b", "csv", "/data/b.csv")
    intercept[IllegalArgumentException](reg.renameDataset("a", "b"))
    intercept[NoSuchElementException](reg.renameDataset("zz", "c"))
    reg.renameDataset("a", "c")
    assert(reg.getDataset("a").isEmpty)
    assert(reg.getDataset("c").map(_.uri).contains("/data/a.csv"))
    // the rename survives a reload (one persisted state, not two)
    val reloaded = new graft.registry.Registry(wd, new graft.workflow.EventBus)
    assert(reloaded.getDataset("a").isEmpty &&
      reloaded.getDataset("c").isDefined)
  }

  test("registry persists by atomic replace: no temp file is left behind") {
    val wd = s"${Work.dir}/test_guard_reg_atomic"
    Work.clean(wd)
    val reg = new graft.registry.Registry(wd, new graft.workflow.EventBus)
    reg.registerDataset("a", "csv", "/data/a.csv")
    reg.registerModel("m")
    reg.registerModelVersion("m", "/models/m/1"): Unit
    reg.renameDataset("a", "b"): Unit
    reg.registerVersionedArtifact("idx", "/idx/1", Some("v1")): Unit
    val left = new java.io.File(wd).list().toSet
    assert(left == Set("registry.json"), s"workdir holds $left")
    val reloaded = new graft.registry.Registry(wd, new graft.workflow.EventBus)
    assert(reloaded.getDataset("b").isDefined &&
      reloaded.modelVersions("m").size == 1 &&
      reloaded.resolveArtifact("idx", Some("v1")).isDefined)
  }

  test("a torn registry.json fails loudly, naming the file") {
    val wd = s"${Work.dir}/test_guard_reg_torn"
    Work.clean(wd)
    val reg = new graft.registry.Registry(wd, new graft.workflow.EventBus)
    reg.registerDataset("a", "csv", "/data/a.csv")
    val state = java.nio.file.Paths.get(wd, "registry.json")
    val json = java.nio.file.Files.readString(state)
    // a crash mid-write, and one right after the truncate
    Seq(json.take(json.length / 2), "").foreach { torn =>
      java.nio.file.Files.writeString(state, torn)
      val e = intercept[IllegalStateException](
        new graft.registry.Registry(wd, new graft.workflow.EventBus))
      assert(e.getMessage.contains(state.toString), e.getMessage)
    }
  }

  test("media codecs fail loudly on undecodable payloads") {
    intercept[IllegalArgumentException](
      graft.ext.ImageCodec.decode(Array[Byte](9, 9, 9)))
    intercept[IllegalArgumentException](
      graft.ext.ImageCodec.decodeFrames(Array[Byte](9, 9, 9)))
    intercept[Exception](
      graft.ext.AudioCodec.decodeWav(Array[Byte](1, 2, 3)))
    intercept[IllegalArgumentException](
      graft.ext.ImageCodec.encodeGif(Seq.empty))
    intercept[IllegalArgumentException](
      graft.ext.VideoCodec.decodeAviFrames(Array[Byte](9, 9, 9)))
    // a valid RIFF signature with a corrupt body must also fail loudly
    intercept[IllegalArgumentException](
      graft.ext.VideoCodec.decodeAviFrames(
        "RIFF0000AVI ".getBytes("US-ASCII")))
    ()
  }

  test("AVI demuxer fails loudly on hostile containers") {
    import graft.ext.VideoCodec
    val frames = VideoCodec.renderAviFrames(7L, "hostile".getBytes)
    val good = VideoCodec.encodeAvi(frames)

    // locate a fourcc in the stream (n-th occurrence, 0-based)
    def find(hay: Array[Byte], cc: String, nth: Int = 0): Int = {
      val pat = cc.getBytes("US-ASCII")
      var seen = 0
      var i = 0
      while (i <= hay.length - 4) {
        if (hay(i) == pat(0) && hay(i + 1) == pat(1) &&
            hay(i + 2) == pat(2) && hay(i + 3) == pat(3)) {
          if (seen == nth) return i
          seen += 1
        }
        i += 1
      }
      fail(s"fourcc $cc #$nth not found")
    }
    def putInt(a: Array[Byte], pos: Int, v: Int): Array[Byte] = {
      val out = a.clone()
      java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(pos, v)
      out
    }

    // 1. chunk size near Int.MaxValue: pos + 8 + size overflows Int —
    //    the Long-arithmetic guard must reject it loudly instead of
    //    attempting a ~2 GB allocation (round-6 advice)
    val frame0 = find(good, "00db")
    val oversized = putInt(good, frame0 + 4, Int.MaxValue - 4)
    val e1 = intercept[IllegalArgumentException](
      VideoCodec.decodeAviFrames(oversized))
    assert(e1.getMessage.contains("exceeds container"))

    // 2. truncated movi: a container cut mid-frame must not yield a
    //    silent partial frame list
    intercept[IllegalArgumentException](
      VideoCodec.decodeAviFrames(good.take(good.length - 20)))

    // 3. header/stride lie: strf claims a larger biWidth than the
    //    frames were packed with, so stride*height exceeds every
    //    chunk body — each frame must be rejected, not misread
    val strf = find(good, "strf")
    val strideLie = putInt(good, strf + 8 + 4, 100) // biWidth 16+ -> 100
    val e3 = intercept[IllegalArgumentException](
      VideoCodec.decodeAviFrames(strideLie))
    assert(e3.getMessage.contains("frame chunk too short"))

    // 4. inverted LIST range: a LIST whose size < 4 cannot hold its
    //    type word — must fail loudly, not silently walk nothing
    val moviList = find(good, "movi") - 8 // back up to the LIST header
    val invertedList = putInt(good, moviList + 4, 2)
    val e4 = intercept[IllegalArgumentException](
      VideoCodec.decodeAviFrames(invertedList))
    assert(e4.getMessage.contains("< 4"))

    // 5. lying idx1 offsets: the demuxer walks chunks directly, so a
    //    hostile index must not redirect it — output stays bit-exact
    val idx1 = find(good, "idx1")
    val lyingIdx = putInt(good, idx1 + 8 + 8, 0x7FFFFFF0)
    val back = VideoCodec.decodeAviFrames(lyingIdx)
    assert(back.length == frames.length)
    frames.zip(back).foreach { case (a, b) =>
      assert(b.argb.toSeq == a.argb.toSeq)
    }

    // 6. MJPG hostility (r12): garbage '00dc' bodies must fail loudly
    //    (undecodable JPEG), a '00db' chunk inside an MJPG stream is
    //    corrupt, and a header/frame dimension disagreement is rejected
    val mj = VideoCodec.encodeAviMjpeg(frames)
    val dc0 = find(mj, "00dc")
    val garbage = mj.clone()
    java.util.Arrays.fill(garbage, dc0 + 8, dc0 + 16, 0x55.toByte)
    intercept[IllegalArgumentException](VideoCodec.decodeAviFrames(garbage))
    val mixed = mj.clone()
    "00db".getBytes("US-ASCII").copyToArray(mixed, dc0)
    val e6 = intercept[IllegalArgumentException](
      VideoCodec.decodeAviFrames(mixed))
    assert(e6.getMessage.contains("'00db' chunk in an MJPG stream"))
    val mjStrf = find(mj, "strf")
    val dimLie = putInt(mj, mjStrf + 8 + 4, frames.head.width + 1)
    val e7 = intercept[IllegalArgumentException](
      VideoCodec.decodeAviFrames(dimLie))
    assert(e7.getMessage.contains("disagrees with strf"))
    ()
  }

  // --- V2 log-table read-path guards (round-7 verdict #6): segment
  // corruption and retention races must fail naming the stream, never
  // parse to null rows or silently read a subset -------------------

  private def causeChain(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")

  private def freshLog(name: String): graft.connector.LogStore = {
    val d = s"${Work.dir}/test_guard_$name"
    Work.clean(d)
    graft.connector.LogStore(d)
  }

  test("log read fails loudly on a truncated segment tail, naming the stream") {
    val store = freshLog("trunc")
    store.append(Tables(spark, sf, "events").limit(50), "scope", "trunc")
    val seg = graft.connector.LogSourceV2
      .listSegments(store.path("scope", "trunc")).head
    // corrupt THROUGH the filesystem API (segments carry checksum
    // siblings since the Hadoop-FS port — an out-of-band java.nio edit
    // would trip the checksum, not the JSON guard this test pins)
    val (fsys, p) = Work.fs(seg)
    val bytes = {
      val in = fsys.open(p)
      try in.readAllBytes() finally in.close()
    }
    assert(bytes.length > 5)
    // cut into the final JSON line — a crashed writer's partial flush
    locally {
      val out = fsys.create(p, true)
      try out.write(java.util.Arrays.copyOf(bytes, bytes.length - 5))
      finally out.close()
    }
    val e = intercept[Exception](
      store.readBounded(spark, "scope", "trunc",
        graft.streaming.StreamOps.eventSchema).count())
    val msg = causeChain(e)
    assert(msg.contains("graft log stream scope/trunc"), msg)
    assert(msg.contains("malformed JSON"), msg)
  }

  test("log read fails loudly on a non-JSON line, through both read paths") {
    val store = freshLog("foreign")
    store.append(Tables(spark, sf, "events").limit(10), "scope", "fj")
    val seg = graft.connector.LogSourceV2
      .listSegments(store.path("scope", "fj")).head
    // corrupt through the FS API (checksum siblings — see the
    // truncation test)
    locally {
      val (fsys, p) = Work.fs(seg)
      val bytes = {
        val in = fsys.open(p)
        try in.readAllBytes() finally in.close()
      }
      val out = fsys.create(p, true)
      try {
        out.write(bytes)
        out.write("this is not json\n".getBytes("UTF-8"))
      } finally out.close()
    }
    val e1 = intercept[Exception](
      store.readBounded(spark, "scope", "fj",
        graft.streaming.StreamOps.eventSchema).count())
    assert(causeChain(e1).contains("graft log stream scope/fj"),
      causeChain(e1))
    val e2 = intercept[Exception](
      store.readBoundedV2(spark, "scope", "fj",
        graft.streaming.StreamOps.eventSchema).count())
    assert(causeChain(e2).contains("graft log stream scope/fj"),
      causeChain(e2))
    // a valid object MISSING fields must still null-fill, not throw
    // (schema evolution tolerance is load-bearing for old segments)
    val store2 = freshLog("sparse")
    store2.append(Tables(spark, sf, "events").limit(5)
      .select(col("event_id")), "scope", "sp")
    assert(store2.readBounded(spark, "scope", "sp",
      graft.streaming.StreamOps.eventSchema).count() == 5)
  }

  test("stream-cut read after vacuum fails with retention error, naming the stream") {
    val store = freshLog("vaccut")
    val ev = Tables(spark, sf, "events")
    store.append(ev.limit(20), "scope", "vc")
    val cut = store.streamCut("scope", "vc")
    store.append(ev.limit(20), "scope", "vc")
    val dropped = store.vacuum("scope", "vc", keepSegments = 1)
    assert(dropped.nonEmpty, "vacuum must have trimmed the cut's segment")
    val e = intercept[IllegalStateException](
      store.readBoundedCut(spark, "scope", "vc",
        graft.streaming.StreamOps.eventSchema, cut))
    assert(e.getMessage.contains("graft log stream scope/vc"), e.getMessage)
    assert(e.getMessage.contains("no longer retained"), e.getMessage)
  }

  test("parameter validation: range-join cell width, simhash band cover") {
    val df = Tables(spark, sf, "events").limit(1)
      .select(col("event_id"), expr("ts div 1000").as("tsu"))
    intercept[IllegalArgumentException](
      graft.ops.RangeJoin.rangeJoin(df, df, "tsu", "tsu", "tsu", cellWidth = 0))
    intercept[IllegalArgumentException](
      graft.ext.Dedup.simhashPairs(
        df.select(col("event_id").as("doc_id"), lit(0L).as("simhash")),
        maxHamming = 4))
    ()
  }

  test("parameter validation: count-min depth/width, bloom bit alignment") {
    val sp = spark
    import sp.implicits._
    val df = Seq(1L, 2L).toDF("k")
    // depth past the fixed hash-row family must refuse, not wrap
    intercept[IllegalArgumentException](
      df.agg(graft.functions.CountMin.countMin(col("k"), 7, 64)).collect())
    intercept[IllegalArgumentException](
      df.agg(graft.functions.CountMin.countMin(col("k"), 0, 64)).collect())
    intercept[IllegalArgumentException](
      df.agg(graft.functions.CountMin.countMin(col("k"), 4, 0)).collect())
    // a non-64-aligned bloom size would silently truncate the bitset —
    // the public entry point refuses before any stream is built
    val ex = intercept[IllegalArgumentException](
      graft.streaming.StreamingDedup.bloomDedupStream(
        df.select(col("k").as("key")), mBits = 100, shards = 2))
    assert(ex.getMessage.contains("64"))
    // count_min over a non-bigint key names the type in the failure
    val tex = intercept[Exception](
      Seq("a").toDF("k")
        .agg(graft.functions.CountMin.countMin(col("k"), 2, 64)).collect())
    assert(tex.getMessage.contains("bigint"))
  }

  test("pagerank on an empty edge list yields an empty result, not a crash") {
    val sp = spark
    import sp.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(graft.ops.PageRank.pagerankOnEdges(empty).count() == 0,
      "no nodes, no scores — the rounds must tolerate an empty graph")
  }

  test("range-join rewrite skips non-integral point types and joins " +
      "that already have an equi key") {
    import org.apache.spark.sql.functions.col
    val sp = spark
    import sp.implicits._
    try withRules(graft.plans.RangeJoinRewrite) {
      spark.conf.set(graft.plans.RangeJoinRewrite.BinConf, "64")
      // double-typed point: integer grid arithmetic doesn't apply —
      // the rule must leave the join alone (still correct, still BNLJ)
      val dpts = Seq(1.5, 42.0, 199.9).toDF("pt")
      val divs = Seq((0.0, 50.0, 1), (40.0, 200.0, 2)).toDF("lo", "hi", "id")
      val dj = dpts.join(divs, col("pt") >= col("lo") && col("pt") < col("hi"))
      assert(dj.queryExecution.optimizedPlan.toString
        .contains("Join Inner") &&
        !dj.queryExecution.optimizedPlan.toString.contains("__graft_pt_cell"),
        "non-integral point must not be grid-rewritten")
      // 1.5→[0,50); 42→both; 199.9→[40,200): 4 rows via nested loop
      assert(dj.count() == 4)
      // equi-keyed range join: Spark hash-joins on the key; the rule
      // must not touch it (idempotence relies on the same check)
      val ep = Seq((1L, 10L), (1L, 60L), (2L, 10L)).toDF("k", "pt")
      val ei = Seq((1L, 0L, 50L), (2L, 0L, 50L)).toDF("k", "lo", "hi")
      val ej = ep.join(ei, ep("k") === ei("k") &&
        col("pt") >= col("lo") && col("pt") < col("hi"))
      assert(!ej.queryExecution.optimizedPlan.toString
        .contains("__graft_pt_cell"),
        "equi-keyed join must not be grid-rewritten")
      assert(ej.count() == 2)
    } finally spark.conf.unset(graft.plans.RangeJoinRewrite.BinConf)
  }

  test("range-join rewrite: sentinel-wide intervals (hi = Long.MaxValue) " +
      "neither fail nor lose rows, and still plan the grid equi-join") {
    // round-10 advice #1: the r10 rule enumerated Sequence(cell(lo),
    // cell(hi)) unbounded — a sentinel "no upper bound" interval made
    // Sequence throw its max-length error at runtime. Wide/extreme
    // intervals now route to the salted overflow bucket: same single
    // equi-join, exact results, no failure path.
    import org.apache.spark.sql.functions.col
    val sp = spark
    import sp.implicits._
    val pts = (-300L to 300L).map(i => i * 7L).toDF("pt")
    val ivs = Seq((-50L, 50L, 1), (0L, Long.MaxValue, 2),
      (Long.MinValue, Long.MaxValue, 3), (100L, 164L, 4))
      .toDF("lo", "hi", "id")
    def run(): Set[(Int, Long)] =
      pts.join(ivs, col("pt") >= col("lo") && col("pt") < col("hi"))
        .select("id", "pt").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet
    spark.conf.unset(graft.plans.RangeJoinRewrite.BinConf)
    val brute = run()
    assert(brute.count(_._1 == 3) == 601, "sentinel interval matches all")
    try withRules(graft.plans.RangeJoinRewrite) {
      // fixed bin, data-dependent span → runtime narrow/wide split
      spark.conf.set(graft.plans.RangeJoinRewrite.BinConf, "64")
      val df = pts.join(ivs,
        col("pt") >= col("lo") && col("pt") < col("hi"))
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("__graft_pt_cell"),
        "sentinel intervals must not disable the rewrite:\n" + plan.take(1200))
      assert(run() == brute)
      // auto mode (no bin conf): sampled median drives the bin
      spark.conf.unset(graft.plans.RangeJoinRewrite.BinConf)
      assert(run() == brute)
    } finally spark.conf.unset(graft.plans.RangeJoinRewrite.BinConf)
  }

  test("range-join rewrite: a statically over-cap span skips the rewrite " +
      "instead of exploding cells") {
    import org.apache.spark.sql.functions.col
    val sp = spark
    import sp.implicits._
    val pts = Seq(5L, 500000L).toDF("pt")
    // shared-base bounds → span provable at plan time: 1e9 units; with
    // bin=1 that is 1e9 cells >> maxCells → the rule must leave the
    // join alone (slow nested loop, never a runtime Sequence blowup).
    // spark.range (not a LocalRelation — Catalyst constant-folds those
    // projections into data, hiding the shared base) keeps the ±c
    // alias structure visible to the rule's static analysis.
    val ivs = spark.range(2).select(
      (col("id") * 1000L).as("base"),
      (col("id") * 1000L - 1L).as("lo"),
      (col("id") * 1000L + 999999999L).as("hi"))
    try withRules(graft.plans.RangeJoinRewrite) {
      spark.conf.set(graft.plans.RangeJoinRewrite.BinConf, "1")
      val df = pts.join(ivs, col("pt") >= col("lo") && col("pt") < col("hi"))
      assert(!df.queryExecution.optimizedPlan.toString
        .contains("__graft_pt_cell"),
        "over-cap static span must skip the grid rewrite")
      assert(df.count() == 3) // 5 ∈ iv0; 500000 ∈ iv0 and iv1
    } finally spark.conf.unset(graft.plans.RangeJoinRewrite.BinConf)
  }

  test("awhash frame index survives >2^25-sample streams (Long arithmetic)") {
    // round-10 advice #4: i*64 in Int overflows past ~33.5M samples
    // (negative index → crash / scattered energies). 34M constant
    // samples must land every unit in a frame, exactly n total.
    val n = 34000000
    val d = graft.ext.AudioCodec.DecodedAudio(8000, 1, 16,
      Array.fill[Short](n)(1))
    val e = graft.ext.Multimodal.awhashEnergies(d)
    assert(e.length == 64 && e.sum == n.toLong,
      s"sum=${e.sum} expected $n")
    assert(e.forall(f => math.abs(f - n / 64) <= 1),
      "constant signal must spread evenly across frames")
  }

  test("leaderboard snapshot swap: failed rename throws instead of " +
      "silently emptying history; crash between renames recovers from .old") {
    val sp = spark
    import sp.implicits._
    val snap = s"${graft.Work.scratch("lbswap")}/snapshot"
    def counts(ws: (Long, String, Long)*) =
      ws.toSeq.toDF("win_start", "event_type", "n")
    // seed: one healthy publish
    graft.streaming.StreamOps.mergeCountsSnapshot(
      counts((0L, "view", 5L)), snap)
    assert(spark.read.parquet(snap).count() == 1)
    // a failing rename must THROW, naming the snapshot path (round-9
    // verdict #3: the old code discarded renameTo's result — the next
    // trigger then silently rebuilt the leaderboard from nothing)
    val ex = intercept[java.io.IOException](
      graft.streaming.StreamOps.mergeCountsSnapshot(
        counts((0L, "click", 3L)), snap, rename = (_, _) => false))
    assert(ex.getMessage.contains(snap), s"path missing from: ${ex.getMessage}")
    // ...and the pre-failure history is still recoverable on disk
    // (either still current, or retired at .old)
    val surviving =
      if (new java.io.File(snap).exists()) snap else snap + ".old"
    assert(spark.read.parquet(surviving)
      .filter($"event_type" === "view").count() == 1,
      "seed row lost after failed swap")
    // crash between the renames: current gone, .old holds the truth —
    // the next trigger must merge against it, not start from scratch
    graft.Work.clean(snap); graft.Work.clean(snap + ".old")
    graft.Work.clean(snap + ".tmp")
    graft.streaming.StreamOps.mergeCountsSnapshot(
      counts((0L, "view", 5L)), snap)
    assert(new java.io.File(snap)
      .renameTo(new java.io.File(snap + ".old")))
    graft.streaming.StreamOps.mergeCountsSnapshot(
      counts((0L, "click", 3L)), snap)
    val out = spark.read.parquet(snap).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set((0L, "view", 5L), (0L, "click", 3L)),
      s"history not recovered from .old: $out")
    assert(!new java.io.File(snap + ".old").exists(),
      "recovered merge must clean the retired snapshot")
    graft.Work.clean(snap); graft.Work.clean(snap + ".old")
  }

  test("auto keys leave the caller's session as they found it: " +
      "building each *_auto key changes no conf and registers no rule") {
    val autos = Seq(graft.ext.Similarity.topkCosineAuto,
      graft.ext.Similarity.topkPagedAuto, graft.ops.Relational.topkRankAuto,
      graft.ops.Relational.topkDenseRankAuto, graft.ops.RangeJoin.rangeCountAuto)
    val confs0 = spark.conf.getAll
    val rules0 = spark.experimental.extraOptimizations
    // an unregistered session: a key must not register a rule itself
    spark.experimental.extraOptimizations = Nil
    try autos.foreach { q =>
      q.fn(spark, sf)
      assert(spark.conf.getAll == confs0, s"${q.name} changed a conf")
      assert(spark.experimental.extraOptimizations.isEmpty,
        s"${q.name} registered " + spark.experimental.extraOptimizations)
    } finally spark.experimental.extraOptimizations = rules0
    // where the session registered the rules, the plans rewrite
    withRules(SparkSpec.graftRules: _*) {
      val topk = graft.ext.Similarity.topkCosineAuto.fn(spark, sf)
      assert(topk.queryExecution.executedPlan.toString.contains("row_topk"))
      val rng = graft.ops.RangeJoin.rangeCountAuto.fn(spark, sf)
      val rs = rng.queryExecution.executedPlan.toString
      assert(!rs.contains("BroadcastNestedLoopJoin") &&
        !rs.contains("CartesianProduct"), rs.take(1500))
    }
  }

  test("Work.publish: a failed stage leaves only sweepable scr_ " +
      "staging, a retry completes, and a completed path never " +
      "re-stages (r15)") {
    val path = s"${Work.dir}/test_guard_publish_${Work.jvmTag}"
    Work.clean(path)
    def pubStages() = Option(new java.io.File(Work.dir).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("scr_") &&
        f.getName.contains("test_guard_publish"))
    // crash mid-stage: no _SUCCESS, no target, and the stranded
    // staging dir is scr_-prefixed so the >6h stale sweep reclaims it
    intercept[RuntimeException] {
      Work.publish(path) { tmp =>
        new java.io.File(tmp).mkdirs()
        throw new RuntimeException("boom")
      }
    }
    assert(!new java.io.File(path, "_SUCCESS").exists())
    assert(pubStages().nonEmpty, "staging dir must exist and be sweepable")
    // retry from the failure completes normally
    Work.publish(path) { tmp =>
      new java.io.File(tmp).mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(tmp, "content"), "1"): Unit
    }
    assert(new java.io.File(path, "_SUCCESS").exists())
    assert(new java.io.File(path, "content").exists())
    // a completed path is _SUCCESS-gated: stage must not run again
    var ran = false
    Work.publish(path) { _ => ran = true }
    assert(!ran, "stage ran on a completed publish")
    Work.clean(path)
    pubStages().foreach(f => Work.clean(f.getAbsolutePath))
  }

  test("Work.publish + segment listing through a file: URI spelling — " +
      "the Hadoop-FS path carries a scheme end-to-end (r16 verdict #1)") {
    val sp = spark
    import sp.implicits._
    // a URI-spelled target must flow through FileSystem resolution,
    // not java.io.File (which would mangle 'file:/x' into a relative
    // path): publish, _SUCCESS gate, segment listing and read-back all
    // behave exactly as with the plain spelling
    val plain = s"${Work.dir}/test_guard_fsuri_${Work.jvmTag}"
    val uri = s"file:$plain"
    Work.clean(uri)
    val docs = Seq((1L, "aa bb cc dd ee ff gg hh"),
      (2L, "ii jj kk ll mm nn oo pp")).toDF("doc_id", "text")
    graft.ext.Dedup.publishHistorySegment(spark, uri, "day0", docs)
    assert(Work.isComplete(s"$uri/seg_day0"))
    // the SAME artifact is visible under the plain spelling — one
    // filesystem, two spellings
    assert(Work.isComplete(s"$plain/seg_day0"))
    val (sh, bb) = graft.ext.Dedup.segmentedIndexFrames(spark, uri)
    assert(sh.count() == 2 && bb.count() > 0)
    // retry-idempotence holds through the URI spelling too
    graft.ext.Dedup.publishHistorySegment(spark, uri, "day0",
      docs.limit(0)): Unit
    assert(graft.ext.Dedup.segmentedIndexFrames(spark, uri)._1.count() == 2,
      "a completed segment must never be re-staged")
    Work.clean(uri)
  }

  test("Work.publish: a no-op stage (empty artifact) still completes " +
      "with a _SUCCESS marker instead of a bare IOException (r15 ADVICE)") {
    val path = s"${Work.dir}/test_guard_publish_noop_${Work.jvmTag}"
    Work.clean(path)
    // the stage writes NOTHING — tmp is never created by the callback;
    // publish must mkdirs it for the marker rather than throw
    Work.publish(path) { _ => () }
    assert(new java.io.File(path, "_SUCCESS").exists())
    Work.clean(path)
  }

  test("published indexes resolve through the Registry like model " +
      "versions: bare name = current publish, name@fingerprint = the " +
      "exact historical one (r16 verdict #7)") {
    val wd = Work.scratch("guard_idxreg")
    Work.clean(wd)
    val reg = new graft.registry.Registry(wd, new graft.workflow.EventBus)
    // crawl 1: fingerprinted publish registers BOTH spellings
    val v1 = graft.ext.Dedup.registerHistoryIndex(reg, spark,
      "neardup_history", sf, Some("crawl1"))
    assert(reg.resolveArtifact("neardup_history").map(_.uri)
      .contains(v1.uri))
    assert(reg.resolveArtifact("neardup_history", Some("crawl1"))
      .map(_.uri).contains(v1.uri))
    // the registered uri is a segmented index ROOT: its one active
    // segment is the complete publish
    val v1Segs = graft.ext.Dedup.activeSegments(v1.uri)
    assert(v1Segs.nonEmpty && v1Segs.forall(Work.isComplete),
      "registered root's active segment must be a complete publish")
    // crawl 2 (the corpus re-crawled in place): the CURRENT pointer
    // moves to the new artifact path; the stale fingerprint still
    // resolves the old, immutable publish
    val v2 = graft.ext.Dedup.registerHistoryIndex(reg, spark,
      "neardup_history", sf, Some("crawl2"))
    assert(v2.uri != v1.uri, "a new fingerprint must publish a NEW path")
    assert(reg.resolveArtifact("neardup_history").map(_.uri)
      .contains(v2.uri))
    assert(reg.resolveArtifact("neardup_history", Some("crawl1"))
      .map(_.uri).contains(v1.uri),
      "a reader holding the old fingerprint must resolve its artifact")
    // the registry file round-trips the pointers (a fresh process
    // resolves the same artifacts)
    val reloaded = new graft.registry.Registry(wd, new graft.workflow.EventBus)
    assert(reloaded.resolveArtifact("neardup_history").map(_.uri)
      .contains(v2.uri))
    assert(reloaded.resolveArtifact("neardup_history", Some("crawl1"))
      .map(_.uri).contains(v1.uri))
    // '@' is reserved for the version spelling
    intercept[IllegalArgumentException](
      reg.registerVersionedArtifact("bad@name", "u", None))
    // versions are IMMUTABLE: re-registering the same version with the
    // same uri is a FULL no-op (publish retries) — including the bare
    // current pointer, which must NOT roll back to the old artifact;
    // a different uri throws
    reg.registerVersionedArtifact("neardup_history", v1.uri,
      Some("crawl1")): Unit
    assert(reg.resolveArtifact("neardup_history").map(_.uri)
      .contains(v2.uri),
      "a retried old-version registration must not move the current " +
        "pointer backward")
    intercept[IllegalArgumentException](reg.registerVersionedArtifact(
      "neardup_history", s"${v1.uri}_other", Some("crawl1")))
    assert(reg.resolveArtifact("neardup_history", Some("crawl1"))
      .map(_.uri).contains(v1.uri))
    // the LM registrar shares the contract
    val lm = graft.ext.Corpus.registerFluencyLm(reg, spark,
      "ccnet_lm", sf)
    assert(reg.resolveArtifact("ccnet_lm").map(_.uri).contains(lm.uri))
    assert(Work.isComplete(lm.uri))
    // registered fingerprinted artifacts are scratch-external (the
    // fixed-path sf publishes): clean only the registry dir itself
    Work.clean(wd)
    Work.clean(v1.uri)
    Work.clean(v2.uri)
  }

  test("publishTag fingerprint: a mutated corpus dir republishes under " +
      "a NEW artifact path while old readers are unaffected (r15 #6)") {
    val sp = spark
    import sp.implicits._
    // default unchanged: no fingerprint == the historical tag
    assert(Work.publishTag(sf) == Work.publishTag(sf, None))
    assert(Work.publishTag(sf, Some("v2")) != Work.publishTag(sf))
    assert(Work.publishTag(sf, Some("v2")) != Work.publishTag(sf, Some("v3")))
    // end-to-end through a real publisher: a corpus dir whose
    // documents.parquet is MUTATED IN PLACE
    val dir = Work.scratch("fp_corpus")
    Work.clean(dir)
    Seq((1L, "alpha beta alpha beta"), (2L, "alpha beta alpha beta"))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val pathA = graft.ext.Corpus.ensureFluencyLm(spark, dir)
    def freqKeys(p: String): Set[String] =
      spark.read.parquet(s"$p/freq").collect().map(_.getString(0)).toSet
    val keysA = freqKeys(pathA)
    assert(keysA.contains("alpha beta"))
    // mutate the corpus under the SAME dir (the living-corpus hazard)
    Seq((1L, "gamma delta gamma delta"), (2L, "gamma delta gamma delta"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // default path-keyed publish: the _SUCCESS short-circuit serves the
    // STALE artifact — the documented immutable-corpus posture
    assert(graft.ext.Corpus.ensureFluencyLm(spark, dir) == pathA)
    assert(freqKeys(pathA) == keysA)
    // fingerprint escape hatch: a distinct artifact path, fresh content
    // (the trailing-slash dir spelling canonicalizes to the same tag
    // component but gets a fresh Tables cache entry — a stand-in for
    // the new-session reader of the re-crawled corpus)
    val pathB = graft.ext.Corpus.ensureFluencyLm(spark, s"$dir/",
      Some("crawl-2026-08-15"))
    assert(pathB != pathA)
    assert(freqKeys(pathB).contains("gamma delta"))
    assert(!freqKeys(pathB).contains("alpha beta"))
    // old readers unaffected: the v1 artifact is intact byte-for-byte
    assert(freqKeys(pathA) == keysA)
    Work.clean(dir)
    Work.clean(pathA)
    Work.clean(pathB)
  }

  test("log store through a file: URI spelling — append, bounded read, " +
      "stream-cut, vacuum and compact all resolve through the Hadoop " +
      "FS API end-to-end (r17 verdict #3)") {
    val sp = spark
    import sp.implicits._
    val plain = s"${Work.dir}/test_guard_loguri_${Work.jvmTag}"
    Work.clean(plain)
    val store = graft.connector.LogStore(s"file:$plain")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    store.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "sc", "st")
    store.append(Seq((3L, "c")).toDF("k", "v"), "sc", "st")
    def got = store.readBounded(spark, "sc", "st", schema).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // the same stream is visible under the PLAIN spelling — one
    // filesystem, two spellings (the segment paths normalize)
    val plainStore = graft.connector.LogStore(plain)
    assert(plainStore.readBounded(spark, "sc", "st", schema).count() == 3)
    // stream-cut capture + read-back through the URI spelling
    val cut = store.streamCut("sc", "st")
    store.append(Seq((4L, "d")).toDF("k", "v"), "sc", "st")
    assert(store.readBoundedCut(spark, "sc", "st", schema, cut)
      .count() == 3, "cut must pin the pre-append prefix")
    // V2 bounded read resolves through the same FS plumbing
    assert(store.readBoundedV2(spark, "sc", "st", schema).count() == 4)
    // maintenance ops: vacuum tombstones + compaction stamp round-trip
    val dropped = store.vacuum("sc", "st", keepSegments = 3)
    assert(dropped.nonEmpty)
    assert(graft.connector.LogSourceV2
      .vacuumedSegments(store.path("sc", "st")).nonEmpty)
    store.compact(spark, "sc", "st")
    assert(graft.connector.LogSourceV2
      .compactionStamp(store.path("sc", "st")) > 0L)
    assert(plainStore.readBounded(spark, "sc", "st", schema).count() == 3,
      "compaction must preserve the surviving rows")
    Work.clean(plain)
  }

  test("Work.spell: default-filesystem paths spell plain, any other " +
      "filesystem stays fully qualified (r18 review — a qualified " +
      "path must never re-resolve against the wrong store)") {
    // this box's default fs is file:// — both spellings of a local
    // path canonicalize to the plain one (pre-port offsets/tags keep
    // resolving)...
    val p1 = Work.spell(new org.apache.hadoop.fs.Path("/x/y"))
    val p2 = Work.spell(new org.apache.hadoop.fs.Path("file:/x/y"))
    assert(p1 == "/x/y" && p2 == "/x/y")
    // ...while a NON-default scheme keeps its scheme: stripping it
    // would hand the string back to defaultFS resolution — the wrong
    // store (the hazard on an hdfs-default cluster with file:-spelled
    // artifacts, mirrored here by a custom scheme on a file-default
    // box)
    spark.sparkContext.hadoopConfiguration
      .set("fs.flaky.impl", classOf[FlakyRenameFs].getName)
    val q = Work.spell(new org.apache.hadoop.fs.Path("flaky:///x/y"))
    assert(q.startsWith("flaky:"), s"non-default scheme lost: $q")
    // round-trip: the canonical spelling resolves back to the SAME
    // filesystem it came from
    assert(Work.fs(q)._1.getUri.getScheme == "flaky")
    assert(Work.fs(p2)._1.getUri.getScheme == "file")
  }

  test("Work.publish(markerLast) on a store whose rename is NON-atomic: " +
      "the rename commit can be half-read, marker-last never is " +
      "(r17 verdict #4)") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.flaky.impl", classOf[FlakyRenameFs].getName)
    val base = s"${Work.dir}/test_guard_flaky_${Work.jvmTag}"
    Work.clean(base)
    def write(p: String, s: String): Unit = {
      val (f, q) = Work.fs(p)
      val out = f.create(q, true)
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    // --- the hazard, demonstrated: a rename-commit on this store moves
    // children one object at a time with the marker landing first (the
    // worst legal interleaving of an S3-style copy loop) and dies
    // mid-copy — the reader gate says COMPLETE while the data is gone
    val src = s"flaky://$base/stage"
    val dst = s"flaky://$base/renamed"
    write(s"$src/part-0.bin", "data")
    write(s"$src/_SUCCESS", "")
    val (ff, _) = Work.fs(dst)
    intercept[java.io.IOException] {
      ff.rename(Work.fs(src)._2, Work.fs(dst)._2): Unit
    }
    assert(Work.isComplete(dst),
      "half-rename must have surfaced the marker (the hazard)")
    assert(!ff.exists(Work.fs(s"$dst/part-0.bin")._2),
      "…while the data object is still missing: a half-read artifact")
    // --- marker-last on the same store: no rename anywhere, and the
    // gate stays closed until every data object is in place
    val pub = s"flaky://$base/artifact"
    val renamesBefore = FlakyRenameFs.renames.get()
    Work.publish(pub, markerLast = true) { p =>
      write(s"$p/a.bin", "aaaa")
      assert(!Work.isComplete(pub),
        "gate must stay closed while data objects are landing")
      write(s"$p/b.bin", "bbbb")
      assert(!Work.isComplete(pub))
    }
    assert(FlakyRenameFs.renames.get() == renamesBefore,
      "marker-last must never call rename on this store")
    assert(Work.isComplete(pub))
    assert(ff.exists(Work.fs(s"$pub/a.bin")._2) &&
      ff.exists(Work.fs(s"$pub/b.bin")._2))
    // --- crashed attempt: partial, marker-less target; retry restarts
    // CLEAN (the junk object from the dead writer is not inherited)
    val pub2 = s"flaky://$base/artifact2"
    intercept[RuntimeException] {
      Work.publish(pub2, markerLast = true) { p =>
        write(s"$p/junk.bin", "x")
        throw new RuntimeException("boom")
      }
    }
    assert(!Work.isComplete(pub2))
    Work.publish(pub2, markerLast = true) { p => write(s"$p/real.bin", "y") }
    assert(Work.isComplete(pub2))
    assert(!ff.exists(Work.fs(s"$pub2/junk.bin")._2),
      "retry must clean the crashed attempt's partial objects")
    // --- completed marker-last path is _SUCCESS-gated like any publish
    var ran = false
    Work.publish(pub2, markerLast = true) { _ => ran = true }
    assert(!ran, "stage ran on a completed marker-last publish")
    Work.clean(base)
  }

  test("Work.publish self-heals a pre-existing INCOMPLETE target: one " +
      "clean+re-rename instead of throwing forever (r17 ADVICE)") {
    val path = s"${Work.dir}/test_guard_publish_heal_${Work.jvmTag}"
    Work.clean(path)
    // a crashed writer (on a store where the failed commit left the
    // dir) or external interference: the target EXISTS but carries no
    // _SUCCESS — the no-overwrite rename is blocked by it on every
    // retry, yet no reader can be gated on it
    new java.io.File(path).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "stale.bin"), "junk"): Unit
    assert(!Work.isComplete(path))
    Work.publish(path) { tmp =>
      new java.io.File(tmp).mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(tmp, "content"), "1"): Unit
    }
    assert(Work.isComplete(path), "publish must heal the blocked target")
    assert(new java.io.File(path, "content").exists())
    assert(!new java.io.File(path, "stale.bin").exists(),
      "the incomplete blocker must be gone, not merged into")
    Work.clean(path)
  }

  test("registerVersionedArtifact is atomic: a reloaded registry sees " +
      "BOTH the version pin and the current pointer or neither " +
      "(r17 ADVICE medium)") {
    val wd = Work.scratch("guard_regatomic")
    Work.clean(wd)
    val bus = new graft.workflow.EventBus
    val reg = new graft.registry.Registry(wd, bus)
    reg.registerVersionedArtifact("idx", "/pub/a", Some("v1")): Unit
    // both pointers land in ONE persist — a registry reloaded from
    // disk (the crash-then-restart reader) can never observe the
    // version pinned with the current pointer stale
    val re1 = new graft.registry.Registry(wd, bus)
    assert(re1.resolveArtifact("idx").map(_.uri).contains("/pub/a"))
    assert(re1.resolveArtifact("idx", Some("v1")).map(_.uri)
      .contains("/pub/a"))
    // second publish rolls current, pins v2, leaves v1 immutable
    reg.registerVersionedArtifact("idx", "/pub/b", Some("v2")): Unit
    val re2 = new graft.registry.Registry(wd, bus)
    assert(re2.resolveArtifact("idx").map(_.uri).contains("/pub/b"))
    assert(re2.resolveArtifact("idx", Some("v1")).map(_.uri)
      .contains("/pub/a"))
    assert(re2.resolveArtifact("idx", Some("v2")).map(_.uri)
      .contains("/pub/b"))
    // retried registration of the OLD version is a full no-op: the
    // current pointer must not roll backward
    reg.registerVersionedArtifact("idx", "/pub/a", Some("v1")): Unit
    assert(reg.resolveArtifact("idx").map(_.uri).contains("/pub/b"))
    Work.clean(wd)
  }

  test("log connector resolves a scheme registered ONLY on the session " +
      "conf, through real executor tasks (r18 verdict #1: the shipped " +
      "SerializableConfiguration)") {
    // register the custom scheme at SESSION level only — never on the
    // context hadoopConfiguration, never on the classpath — and disable
    // the FileSystem cache for it, so every resolution (driver helper
    // or executor task) must find the impl in the Configuration it was
    // actually handed; a cached instance can't mask a missing conf
    spark.conf.set("fs.sessfs.impl", classOf[SessionOnlyFs].getName)
    spark.conf.set("fs.sessfs.impl.disable.cache", "true")
    try {
      assert(spark.sparkContext.hadoopConfiguration
        .get("fs.sessfs.impl") == null,
        "precondition: the scheme must NOT be on the context conf")
      val base = s"sessfs://${Work.dir}/test_guard_sessfs_${Work.jvmTag}"
      Work.clean(base)
      val store = graft.connector.LogStore(base)
      val ev = Tables(spark, sf, "events").limit(12)
      // batch append: Spark's text sink resolves via the session conf;
      // the driver-side stamping renames via Work.hconf's session
      // overlay
      store.append(ev, "sc", "st")
      assert(store.readBounded(spark, "sc", "st",
        graft.streaming.StreamOps.eventSchema).count() == 12)
      // V2 batch write + read: writer/reader FACTORIES ship the session
      // conf into tasks (no SparkSession exists in a task — on a real
      // cluster this is the only way the scheme resolves there)
      ev.select(to_json(struct(ev.columns.map(col).toSeq: _*)).as("value"))
        .write.format(classOf[graft.connector.LogSourceProvider].getName)
        .option("path", store.path("sc", "st")).mode("append").save()
      assert(store.readBoundedV2(spark, "sc", "st",
        graft.streaming.StreamOps.eventSchema).count() == 24)
      // streaming read from the session-only scheme, through V2 reader
      // tasks
      val ckpt = Work.scratch("guard_sessfs_ckpt")
      val out = Work.scratch("guard_sessfs_out")
      store.readStream(spark, "sc", "st",
          graft.streaming.StreamOps.eventSchema)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      assert(spark.read.parquet(out).count() == 24)
      // the shipped-conf pin that survives local mode's shared JVM
      // (where a task could fall back to the default session and pass
      // by accident): the serialized factories CARRY the session conf
      def roundTrip[T <: AnyRef](x: T): T = {
        val bos = new java.io.ByteArrayOutputStream()
        val oos = new java.io.ObjectOutputStream(bos)
        oos.writeObject(x); oos.close()
        new java.io.ObjectInputStream(
          new java.io.ByteArrayInputStream(bos.toByteArray))
          .readObject().asInstanceOf[T]
      }
      val wf = roundTrip(graft.connector.LogWriterFactory(
        store.path("sc", "st"), "q1", Work.taskConf()))
      assert(wf.conf.value.get("fs.sessfs.impl") ==
        classOf[SessionOnlyFs].getName,
        "writer factory must ship the session-registered scheme")
      val rf = roundTrip(
        graft.connector.LogSegmentReaderFactory(Work.taskConf()))
      assert(rf.conf.value.get("fs.sessfs.impl") ==
        classOf[SessionOnlyFs].getName,
        "reader factory must ship the session-registered scheme")
      Work.clean(base)
      Work.clean(ckpt)
      Work.clean(out)
    } finally {
      spark.conf.unset("fs.sessfs.impl")
      spark.conf.unset("fs.sessfs.impl.disable.cache")
    }
  }

  test("withExclusiveRecord: held locks exclude with a pointed error, " +
      "stale locks are taken over, and the exit delete never removes a " +
      "taker's live lock (r18 verdict #3 primitive; r19 review owner " +
      "tokens)") {
    val dir = Work.scratch("guard_lock")
    Work.clean(dir)
    // mutual exclusion: a LIVE foreign lock excludes us after waitMs
    assert(Work.createSmallRecordExclusive(dir, "_lk",
      s"${System.currentTimeMillis()} feedface"))
    val e = intercept[IllegalStateException](
      Work.withExclusiveRecord(dir, "_lk", waitMs = 300L) { fail("ran") })
    assert(e.getMessage.contains("_lk"))
    // stale lock (ancient stamp): taken over, body runs, lock released
    Work.replaceSmallRecord(dir, "_lk", s"1000 deadbeef")
    var ran = false
    Work.withExclusiveRecord(dir, "_lk") { ran = true }
    assert(ran && !Work.pathExists(s"$dir/_lk"),
      "takeover must run the body and release")
    // the r19 review hazard: we hold the lock, stall past the horizon,
    // a taker replaces it — OUR exit must NOT delete the taker's live
    // lock (owner-token comparison). Simulated by swapping the record
    // inside the body.
    Work.withExclusiveRecord(dir, "_lk") {
      Work.replaceSmallRecord(dir, "_lk",
        s"${System.currentTimeMillis()} aa11bb22")
    }
    assert(Work.readSmallRecord(dir, "_lk").exists(_.contains("aa11bb22")),
      "a taker's live lock must survive the stalled holder's exit")
    Work.clean(dir)
  }

  test("log transport put-commit mode: on a store whose segment rename " +
      "is a half-readable copy, rename-commit exposes a partial segment " +
      "and put-commit never does (r18 verdict #2)") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.s3ish.impl", classOf[PartialCopyFs].getName)
    val base = s"s3ish://${Work.dir}/test_guard_putmode_${Work.jvmTag}"
    Work.clean(base)
    val ev = Tables(spark, sf, "events").limit(8)
    val schema = graft.streaming.StreamOps.eventSchema
    // --- the hazard, demonstrated: the rename commit on this store
    // copies the segment half-way and dies — a LISTED, visible segment
    // is now a truncated object, exactly what a reader racing an
    // S3-style rename can open
    val renameStore = graft.connector.LogStore(base) // default: rename
    intercept[java.io.IOException] { renameStore.append(ev, "sc", "st") }
    val partial = graft.connector.LogSourceV2
      .listSegments(renameStore.path("sc", "st"))
    assert(partial.nonEmpty, "the half-copied segment is VISIBLE")
    val (pfs, pp) = Work.fs(partial.head)
    assert(pfs.getFileStatus(pp).getLen > 0 &&
      pfs.getFileStatus(pp).getLen < PartialCopyFs.lastSrcLen.get(),
      "…and truncated: a reader would half-read it (the hazard)")
    Work.clean(base)
    // --- put mode on the same store: segments are written to final
    // names through single streams and published by one trailing
    // marker; no segment rename is ever issued, and no partial or
    // uncommitted segment is ever visible
    val putStore = graft.connector.LogStore(base, commitMode = "put")
    val renamesBefore = PartialCopyFs.segmentRenames.get()
    putStore.append(ev, "sc", "st")
    assert(PartialCopyFs.segmentRenames.get() == renamesBefore,
      "put mode must never rename a segment on this store")
    assert(putStore.readBounded(spark, "sc", "st", schema).count() == 8)
    // every appended row reads back, byte-copied intact
    def rowSet(df: org.apache.spark.sql.DataFrame) =
      df.select(schema.fieldNames.toSeq.map(col): _*).collect()
        .map(_.toString).sorted.toSeq
    assert(rowSet(putStore.readBounded(spark, "sc", "st", schema)) ==
      rowSet(ev), "every appended row reads back")
    // the V2 write honors the same mode via option("commitMode")
    ev.select(to_json(struct(ev.columns.map(col).toSeq: _*)).as("value"))
      .write.format(classOf[graft.connector.LogSourceProvider].getName)
      .option("path", putStore.path("sc", "st"))
      .option("commitMode", "put").mode("append").save()
    assert(PartialCopyFs.segmentRenames.get() == renamesBefore,
      "V2 put mode must never rename a segment either")
    assert(putStore.readBounded(spark, "sc", "st", schema).count() == 16)
    // --- the completeness gate: a put-named segment without its
    // append's marker is a crashed attempt — INVISIBLE to every
    // listing-driven reader until the marker lands
    val dir = putStore.path("sc", "st")
    val before = graft.connector.LogSourceV2.listSegments(dir).size
    val (ffs, dp) = Work.fs(dir)
    val pendName = f"segment-${99999999999999999L}%020d-00000-deadbeef-p.json"
    val outp = ffs.create(new org.apache.hadoop.fs.Path(dp, pendName), true)
    outp.write("{\"x\":1}\n".getBytes("UTF-8")); outp.close()
    assert(graft.connector.LogSourceV2.listSegments(dir).size == before,
      "marker-less put segment must stay invisible")
    ffs.create(new org.apache.hadoop.fs.Path(dp,
      f"_put-${99999999999999999L}%020d-deadbeef"), true).close()
    assert(graft.connector.LogSourceV2.listSegments(dir).size == before + 1,
      "…and become visible the instant its marker exists")
    // compaction in put mode: the merged output itself publishes via
    // put-commit (a rename here would re-open the half-read hazard —
    // r19 review), and the sweep reclaims exactly the PRE-compaction
    // residue (stale markers, marker-less junk) — never anything that
    // landed after the snapshot
    putStore.compact(spark, "sc", "st")
    val names = ffs.listStatus(dp).map(_.getPath.getName).toSeq
    assert(!names.exists(_.startsWith("compacted-")),
      "put-mode compact must not rename merged segments into visibility")
    assert(names.count(_.startsWith("_put-")) == 1,
      s"exactly the merged output's marker must remain, got " +
        names.filter(_.startsWith("_put-")).mkString(", "))
    assert(!names.contains(pendName),
      "pre-compaction put residue must be swept")
    assert(putStore.readBounded(spark, "sc", "st", schema).count() == 17)
    assert(PartialCopyFs.segmentRenames.get() == renamesBefore,
      "put-mode compact must never rename a segment either")
    Work.clean(base)
  }

  test("put-residue sweep: a pre-compaction marker survives while ANY " +
      "segment it gates survives — swept only when all were compacted " +
      "(r19 ADVICE: committed-between-snapshots append)") {
    val dir = s"${Work.dir}/test_guard_putsweep_${Work.jvmTag}"
    Work.clean(dir)
    val (f, d) = Work.fs(dir)
    f.mkdirs(d): Unit
    def put(name: String): Unit = {
      val o = f.create(new org.apache.hadoop.fs.Path(d, name), true)
      o.write("{\"x\":1}\n".getBytes("UTF-8")); o.close()
    }
    val s = 1700000000000L
    // (a) the race state the r19 unconditional marker branch lost: an
    // append that committed between the compaction's visible-segment
    // listing and its rawBefore snapshot — marker inside the snapshot,
    // segments still live (they were invisible at victim-set time, so
    // never compacted)
    val aFile = f"segment-$s%020d-00000-aaaaaaaa-p.json"
    val aMark = f"_put-$s%020d-aaaaaaaa"
    put(aFile); put(aMark)
    // (b) an append fully compacted away: marker in snapshot, files gone
    val bMark = f"_put-${s + 1}%020d-bbbbbbbb"
    put(bMark)
    // (c) crashed residue: marker-less put file in snapshot
    val cFile = f"segment-${s + 2}%020d-00000-cccccccc-p.json"
    put(cFile)
    // (d) a post-snapshot append: neither name in rawBefore
    val dFile = f"segment-${s + 3}%020d-00000-dddddddd-p.json"
    val dMark = f"_put-${s + 3}%020d-dddddddd"
    put(dFile); put(dMark)
    graft.connector.LogStore.sweepPutResidue(f, d,
      Set(aFile, aMark, bMark, cFile))
    val names = f.listStatus(d).map(_.getPath.getName).toSet
    assert(names.contains(aFile) && names.contains(aMark),
      "a committed append with surviving segments must keep its marker " +
        "AND its data (the unconditional sweep orphaned then lost it)")
    assert(!names.contains(bMark),
      "a marker whose every segment was compacted away is swept")
    assert(!names.contains(cFile), "marker-less residue is swept")
    assert(names.contains(dFile) && names.contains(dMark),
      "post-snapshot names are never touched")
    Work.clean(dir)
  }

  test("Work.deleteRecordIfContent: the second racing reclaimer can no " +
      "longer delete the first's fresh LIVE lock (r19 ADVICE)") {
    val dir = s"${Work.dir}/test_guard_reclaim_${Work.jvmTag}"
    Work.clean(dir)
    val stale = s"${System.currentTimeMillis() - 3600000L} " +
      s"${java.util.UUID.randomUUID()}"
    assert(Work.createSmallRecordExclusive(dir, "_lk", stale))
    // reclaimer A judged `stale` stale and reclaims content-conditionally
    assert(Work.deleteRecordIfContent(dir, "_lk", stale),
      "A's reclaim of the exact stale content succeeds")
    val live = s"${System.currentTimeMillis()} " +
      s"${java.util.UUID.randomUUID()}"
    assert(Work.createSmallRecordExclusive(dir, "_lk", live))
    // reclaimer B raced A: its staleness judgment predates A's create —
    // the bare delete here was the double-held-lock bug
    assert(!Work.deleteRecordIfContent(dir, "_lk", stale),
      "B's reclaim must refuse: the content moved on")
    assert(Work.readSmallRecord(dir, "_lk").map(_.trim).contains(live),
      "A's live lock survives B's attempted takeover")
    // a sibling inside its verify-delete window blocks us (caller loops)
    assert(Work.createSmallRecordExclusive(dir, "_lk.reclaim",
      s"${System.currentTimeMillis()} x"))
    assert(!Work.deleteRecordIfContent(dir, "_lk", live),
      "mutex-busy refuses")
    assert(Work.readSmallRecord(dir, "_lk").map(_.trim).contains(live))
    // a CRASHED reclaimer's stale mutex is swept; the retry then wins
    Work.replaceSmallRecord(dir, "_lk.reclaim",
      s"${System.currentTimeMillis() - 3600000L} x")
    assert(!Work.deleteRecordIfContent(dir, "_lk", live),
      "the stale-mutex sweep itself returns false (loop)")
    assert(Work.deleteRecordIfContent(dir, "_lk", live),
      "and the retry acquires the mutex and deletes")
    assert(Work.readSmallRecord(dir, "_lk").isEmpty)
    Work.clean(dir)
  }

  test("put-commit refuses to publish a marker past the watermark " +
      "grace: staged bytes stay INVISIBLE instead of silently skipped " +
      "(r19 ADVICE)") {
    val prev = sys.props.get("graft.log.watermarkGraceMs")
    sys.props("graft.log.watermarkGraceMs") = "1"
    try {
      val base = s"${Work.dir}/test_guard_putgrace_${Work.jvmTag}"
      Work.clean(base)
      val store = graft.connector.LogStore(base, commitMode = "put")
      val ev = Tables(spark, sf, "events").limit(3)
      val e = intercept[java.io.IOException] {
        store.append(ev, "sc", "st")
      }
      assert(e.getMessage.contains("watermark grace"),
        s"pointed error expected, got: ${e.getMessage}")
      // the refusal is SAFE: marker withheld, nothing visible, the
      // staged bytes are ordinary crashed-append residue for the sweep
      val dir = store.path("sc", "st")
      val (f, d) = Work.fs(dir)
      val names = f.listStatus(d).map(_.getPath.getName)
      assert(!names.exists(_.startsWith("_put-")), "marker withheld")
      assert(names.exists(_.startsWith("segment-")),
        "staged residue present (sweepable)")
      assert(graft.connector.LogSourceV2.listSegments(dir).isEmpty,
        "nothing became visible")
      Work.clean(base)
    } finally {
      prev match {
        case Some(v) => sys.props("graft.log.watermarkGraceMs") = v
        case None => sys.props -= "graft.log.watermarkGraceMs": Unit
      }
    }
  }
}

/** Test-only FileSystem whose SEGMENT rename is deliberately a
  * NON-ATOMIC, failing copy — the S3-style hazard: the destination
  * object becomes visible with half the source's bytes, then the
  * "copy" dies. Non-segment renames (staging dirs, committer
  * internals) pass through untouched, so only the log store's commit
  * path is sabotaged. Pins [[graft.connector.LogStore]]'s put-commit
  * mode. */
class PartialCopyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "s3ish"
  override def getUri: java.net.URI = java.net.URI.create("s3ish:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    if (!dst.getName.startsWith("segment-")) return super.rename(src, dst)
    PartialCopyFs.segmentRenames.incrementAndGet(): Unit
    val len = getFileStatus(src).getLen
    PartialCopyFs.lastSrcLen.set(len)
    val in = open(src)
    val out = create(dst, true)
    try {
      val buf = new Array[Byte]((len / 2).toInt.max(1))
      val n = in.read(buf)
      if (n > 0) out.write(buf, 0, n)
    } finally { out.close(); in.close() }
    throw new java.io.IOException("s3ish rename copy died half-way")
  }
}

object PartialCopyFs {
  val segmentRenames = new java.util.concurrent.atomic.AtomicInteger(0)
  val lastSrcLen = new java.util.concurrent.atomic.AtomicLong(0L)
}

/** Test-only FileSystem registered ONLY at session level — exists to
  * pin that the artifact layer and the log connector resolve
  * session-registered schemes, on the driver (Work.hconf overlay) and
  * inside executor tasks (the factories' shipped
  * SerializableConfiguration). */
class SessionOnlyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "sessfs"
  override def getUri: java.net.URI = java.net.URI.create("sessfs:///")
}

/** Test-only FileSystem whose rename is deliberately NON-ATOMIC: it
  * moves the source's children one at a time — `_SUCCESS` FIRST (the
  * worst interleaving a reader can observe from an S3-style server-side
  * copy loop) — and crashes after the first object when there is more
  * than one. Exists to pin [[graft.Work.publish]]'s `markerLast` mode:
  * on a store like this the rename commit is provably half-readable
  * and marker-last provably is not. */
class FlakyRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "flaky"
  override def getUri: java.net.URI = java.net.URI.create("flaky:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    FlakyRenameFs.renames.incrementAndGet(): Unit
    val kids = listStatus(src).sortBy(st =>
      if (st.getPath.getName == "_SUCCESS") 0 else 1)
    mkdirs(dst): Unit
    var moved = 0
    kids.foreach { st =>
      if (moved >= 1)
        throw new java.io.IOException("flaky rename crashed mid-copy")
      super.rename(st.getPath,
        new org.apache.hadoop.fs.Path(dst, st.getPath.getName)): Unit
      moved += 1
    }
    delete(src, true): Unit
    true
  }
}

object FlakyRenameFs {
  val renames = new java.util.concurrent.atomic.AtomicInteger(0)
}
