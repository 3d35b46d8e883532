package graft

import graft.connector.{GraftCatalog, LogStore}
import graft.registry.Registry
import graft.streaming.StreamOps
import graft.workflow.EventBus
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** The catalog face of register-then-resolve: datasets registered in
  * the metadata registry resolve by SQL name through GraftCatalog to
  * the DataSource V2 log table — bounded SQL, streaming reads, and
  * metadata-only DDL.
  */
class CatalogSpec extends SparkSpec {

  private lazy val wd: String = {
    val d = s"${Work.dir}/test_catalog"
    Work.clean(d)
    val reg = new Registry(d, new EventBus)
    val store = LogStore(s"$d/streams")
    store.append(Tables(spark, sf, "events").limit(100), "scope", "ev")
    reg.registerDataset("ev_stream", "stream", "scope/ev")
    reg.registerDataset("plain_xyz", "xyz", "/tmp/nonexistent.xyz")
    spark.conf.set("spark.sql.catalog.graftcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcat.workdir", d)
    d
  }

  test("registered stream dataset resolves by SQL name (bounded)") {
    wd: Unit
    assert(spark.sql("SELECT count(*) FROM graftcat.ev_stream")
      .collect().head.getLong(0) == 100)
  }

  test("the same catalog name serves a streaming read") {
    val ckpt = s"$wd/ckpt_cat"
    val q = spark.readStream.table("graftcat.ev_stream")
      .writeStream.format("memory").queryName("t_cat_stream")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("t_cat_stream").count() == 100)
  }

  test("DDL is metadata-only: CREATE registers, DROP unregisters") {
    wd: Unit
    spark.sql("CREATE TABLE graftcat.ev_alias (value STRING) " +
      "TBLPROPERTIES('format'='stream','uri'='scope/ev')")
    assert(spark.sql("SELECT count(*) FROM graftcat.ev_alias")
      .collect().head.getLong(0) == 100)
    // the registration is durable: a fresh registry instance sees it
    val fresh = new Registry(wd, new EventBus)
    assert(fresh.getDataset("ev_alias").exists(_.uri == "scope/ev"))
    spark.sql("DROP TABLE graftcat.ev_alias")
    assert(intercept[Exception](
      spark.sql("SELECT * FROM graftcat.ev_alias").collect())
      .getMessage.toLowerCase.contains("table"))
    // stream data untouched by the metadata DDL
    assert(spark.sql("SELECT count(*) FROM graftcat.ev_stream")
      .collect().head.getLong(0) == 100)
  }

  test("INSERT INTO appends through the V2 two-phase-commit write") {
    wd: Unit
    spark.sql("CREATE TABLE graftcat.ev_sink (value STRING) " +
      "TBLPROPERTIES('format'='stream','uri'='scope/ev_sink')")
    spark.sql("""INSERT INTO graftcat.ev_sink
                 SELECT value FROM graftcat.ev_stream""")
    assert(spark.sql("SELECT count(*) FROM graftcat.ev_sink")
      .collect().head.getLong(0) == 100)
    // appends accumulate (append-only log semantics)
    spark.sql("INSERT INTO graftcat.ev_sink VALUES ('{\"event_id\":-1}')")
    assert(spark.sql("SELECT count(*) FROM graftcat.ev_sink")
      .collect().head.getLong(0) == 101)
    // no temp files linger after commit, and every published segment
    // carries a stamped name
    val dir = new java.io.File(s"$wd/streams/scope/ev_sink")
    assert(dir.listFiles().forall(!_.getName.startsWith(".tmp-")))
    val segs = dir.listFiles().map(_.getName)
      .filterNot(n => n.startsWith("_") || n.endsWith(".crc"))
    assert(segs.nonEmpty &&
      segs.forall(graft.connector.LogSourceV2.isStamped), segs.toSeq)
    // the engine's own bounded reader sees the inserted rows
    val store = LogStore(s"$wd/streams")
    assert(store.readBounded(spark, "scope", "ev_sink",
      StreamOps.eventSchema).count() == 101)
  }

  test("V2 scan reports size statistics; a small stream auto-broadcasts") {
    wd: Unit
    val big = Tables(spark, sf, "events")
      .select(col("event_id").cast("string").as("value"))
    val joined = big.join(spark.table("graftcat.ev_stream"), Seq("value"),
      "left_semi")
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      "expected the 100-row V2 stream table on the broadcast side:\n" +
        plan.take(1500))
  }

  test("registered csv and parquet datasets resolve as SQL tables") {
    wd: Unit
    val reg = new Registry(wd, new EventBus)
    // csv with header: resolves through Spark's CSVTable with inference
    val csvDir = s"$wd/files/nation_csv"
    Tables(spark, sf, "nation")
      .write.mode("overwrite").option("header", "true").csv(csvDir)
    reg.registerDataset("nation_csv", "csv", csvDir)
    val rows = spark.sql(
      "SELECT n_nationkey, n_name FROM graftcat.nation_csv").collect()
    assert(rows.length == 25)
    assert(rows.map(_.getString(1)).toSet.contains("NATION_0"))
    // parquet: full pushdown-capable scan by SQL name
    val pqDir = s"$wd/files/region_pq"
    Tables(spark, sf, "region").write.mode("overwrite").parquet(pqDir)
    reg.registerDataset("region_pq", "parquet", pqDir)
    assert(spark.sql(
      "SELECT count(*) FROM graftcat.region_pq WHERE r_regionkey >= 0")
      .collect().head.getLong(0) == 5)
    // an unresolvable format still fails with a pointed error
    val e = intercept[Exception](
      spark.sql("SELECT * FROM graftcat.plain_xyz").collect())
    assert(e.getMessage.contains("unresolvable format"))
    // INSERT INTO flows through Spark's FileTable write path
    spark.sql("INSERT INTO graftcat.region_pq VALUES (99, 'REGION_X')")
    assert(spark.sql("SELECT count(*) FROM graftcat.region_pq")
      .collect().head.getLong(0) == 6)
  }

  test("segmented index resolves by NAME through the Registry, folds " +
      "under the REGISTERED policy, and policy changes are versioned " +
      "(r18 verdict #7)") {
    import graft.ext.Dedup
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "text").limit(80)
    val idx = Work.scratch("regidx")
    Work.clean(idx)
    Dedup.publishHistorySegment(spark, idx, "d0",
      docs.filter(col("doc_id") % 2 === 0))
    Dedup.publishHistorySegment(spark, idx, "d1",
      docs.filter(col("doc_id") % 2 =!= 0))
    def ids(p: String): Set[Long] =
      Dedup.segmentedIndexFrames(spark, p)._1
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = ids(idx)
    val wd = Work.scratch("regidx_reg")
    Work.clean(wd)
    val reg = new Registry(wd, new EventBus)
    // resolve-by-name, not by path convention
    Dedup.registerSegmentedIndex(reg, "crawl", idx,
      Dedup.CompactionPolicy(minorTail = 2, majorFlavors = 0,
        graceMs = 0L), policyVersion = Some("p1")): Unit
    val (root, policy) = Dedup.resolveSegmentedIndex(reg, "crawl")
    assert(root == idx)
    assert(policy == Dedup.CompactionPolicy(2, 0, 0L))
    // fold under the registered policy: 2 plain segments ≥ minorTail
    // trips the minor; victims retire (grace 0) and the index stays
    // row-identical and readable by a resolver that only knows the name
    val folded = Dedup.maybeCompactRegistered(reg, spark, "crawl")
    assert(folded.isDefined, "registered policy must trip the minor fold")
    val (root2, _) = Dedup.resolveSegmentedIndex(reg, "crawl")
    assert(ids(root2) == want, "fold under the registered policy must " +
      "preserve rows")
    assert(Dedup.activeSegments(idx).size == 1)
    val (fsys, ip) = Work.fs(idx)
    assert(fsys.listStatus(ip).count(st =>
        st.isDirectory && st.getPath.getName.startsWith("seg_")) == 1,
      "grace-0 retirement must have deleted the victims (retire-safe)")
    // below-threshold: the policy correctly does nothing
    assert(Dedup.maybeCompactRegistered(reg, spark, "crawl").isEmpty)
    // policy CHANGES are versioned: v2 rolls the current pointer, p1
    // stays pinned; a reloaded registry (crash/restart) sees the same
    val p2 = Dedup.CompactionPolicy(5, 3, 60000L, majorConcat = "on",
      concatRowsMin = 250000L)
    Dedup.registerSegmentedIndex(reg, "crawl", idx, p2,
      policyVersion = Some("p2")): Unit
    val re = new Registry(wd, new EventBus)
    assert(Dedup.resolveSegmentedIndex(re, "crawl")._2 == p2)
    assert(Dedup.resolveSegmentedIndex(re, "crawl",
      policyVersion = Some("p1"))._2 == Dedup.CompactionPolicy(2, 0, 0L))
    // immutable versions: re-registering p1 with a DIFFERENT policy is
    // the registry's repoint error
    intercept[IllegalArgumentException] {
      Dedup.registerSegmentedIndex(reg, "crawl", idx, p2,
        policyVersion = Some("p1"))
    }
    // unknown name fails pointedly
    val e = intercept[NoSuchElementException](
      Dedup.resolveSegmentedIndex(reg, "nope"))
    assert(e.getMessage.contains("registerSegmentedIndex"))
    Work.clean(idx)
    Work.clean(wd)
  }

  test("data artifacts resolve BY NAME with version pinning: IVF " +
      "centroids, PQ codebook, BM25 idf, DSIR ratios, fluency LM " +
      "(r19 verdict #4)") {
    import org.apache.spark.sql.functions.col
    import graft.registry.DataArtifacts
    val wd = s"${Work.dir}/test_dataartifacts_${Work.jvmTag}"
    Work.clean(wd)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(wd)): Unit
    val reg = new Registry(wd, new EventBus)
    val emb = Tables(spark, sf, "embeddings")
    val refs = emb.select(col("vec_id").as("rid"),
      col("embedding").cast("array<double>").as("re")).limit(256)
    // IVF centroids: two versioned publishes — the bare name tracks
    // the current one, the pin keeps serving v1 forever
    DataArtifacts.publishCentroids(reg, spark, "ivf_q", s"$wd/cent_v1",
      refs, k = 4, iters = 1, version = Some("v1")): Unit
    DataArtifacts.publishCentroids(reg, spark, "ivf_q", s"$wd/cent_v2",
      refs, k = 8, iters = 1, version = Some("v2")): Unit
    assert(DataArtifacts.resolveCentroids(reg, spark, "ivf_q")
      .count() == 8)
    val v1 = DataArtifacts.resolveCentroids(reg, spark, "ivf_q",
      Some("v1"))
    assert(v1.columns.toSeq == Seq("cid", "ce") && v1.count() == 4)
    // the resolved quantizer drives the IVF search end to end
    val queries = refs.limit(3)
      .select(col("rid").as("qid"), col("re").as("qe"))
    assert(graft.ext.Similarity.ivfTopK(queries, refs, 2, Some(v1))
      .count() == 6)
    // unknown name fails pointedly, never silently retrains
    val e2 = intercept[NoSuchElementException](
      DataArtifacts.resolveCentroids(reg, spark, "no_such"))
    assert(e2.getMessage.contains("no_such"))
    // BM25 idf: resolve-by-name serves the oracle-shared publish
    DataArtifacts.registerBm25Idf(reg, spark, "bm25_idf", sf): Unit
    val idf = DataArtifacts.resolveBm25Idf(reg, spark, "bm25_idf")
    assert(idf.columns.toSet ==
      Set("term", "df", "idf_fp", "ndocs", "toks"))
    val directIdf = spark.read
      .parquet(graft.ext.Retrieval.ensureIdf(spark, sf))
    assert(idf.count() == directIdf.count() && idf.count() > 0)
    // DSIR ratios: the resolved dense array IS the published table
    DataArtifacts.registerDsirRatios(reg, spark, "dsir_lr", sf): Unit
    val lr = DataArtifacts.resolveDsirRatios(reg, spark, "dsir_lr")
    assert(lr.length == graft.ext.Dsir.Buckets && lr.exists(_ != 0L))
    assert(lr.toSeq == graft.ext.Dsir.loadLr(spark,
      graft.ext.Dsir.ensureLogRatios(spark, sf)).toSeq)
    // PQ codebook: publish + resolve round-trip (one-row broadcast map)
    val scaled = emb.limit(64).select(col("vec_id"),
      graft.ext.Embeddings.intScale(
        col("embedding").cast("array<double>")).as("sc"))
    DataArtifacts.publishPqCodebook(reg, spark, "pq_cb", s"$wd/pq_v1",
      scaled, "vec_id", iters = 1, version = Some("v1")): Unit
    val cb = DataArtifacts.resolvePqCodebook(reg, spark, "pq_cb")
    assert(cb.count() == 1 && cb.columns.toSeq == Seq("cb"))
    // fluency LM: the registry-resolved gate equals the direct path
    graft.ext.Corpus.registerFluencyLm(reg, spark, "lm", sf): Unit
    val docs = Tables(spark, sf, "documents").limit(200)
    val viaReg = graft.ext.Corpus
      .fluencyGateResolved(docs, spark, reg, "lm")
      .collect().map(_.toSeq).toSet
    val directG = graft.ext.Corpus
      .fluencyGatePublished(docs, spark, sf)
      .collect().map(_.toSeq).toSet
    assert(viaReg == directG && viaReg.nonEmpty,
      "resolve-by-name must serve the exact published LM bytes")
    Work.clean(wd)
  }
}
