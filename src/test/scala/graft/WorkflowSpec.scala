package graft

import graft.registry.Stage
import graft.workflow.{BatchTrainPredict => BTP, Events}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}

class WorkflowSpec extends SparkSpec {

  private def mkFixtures(base: String): BTP.Config = {
    Work.clean(base)
    val emb = Tables(spark, sf, "embeddings").select(
      element_at(col("embedding"), 1).cast(FloatType).as("sl"),
      element_at(col("embedding"), 2).cast(FloatType).as("sw"),
      element_at(col("embedding"), 3).cast(FloatType).as("pl"),
      element_at(col("embedding"), 4).cast(FloatType).as("pw"),
      (col("label") % 3).cast(FloatType).as("type"),
      col("vec_id"))
    emb.filter(col("vec_id") % 5 =!= 0).drop("vec_id")
      .write.mode("overwrite").csv(s"$base/train_csv")
    emb.filter(col("vec_id") % 5 === 0).drop("vec_id")
      .write.mode("overwrite").csv(s"$base/test_csv")
    BTP.Config(s"$base/train_csv", s"$base/test_csv", s"$base/wf")
  }

  test("golden run: all four jobs cascade; one version ends DEPLOYED") {
    val cfg = mkFixtures(s"${Work.dir}/test_wf_golden")
    val wf = BTP.runOnce(spark, cfg)
    assert(wf.ranJobs == Seq("datagen", "train", "validate", "predict"))
    val versions = wf.registry.modelVersions(cfg.modelName)
    assert(versions.map(_.stage) == Seq(Stage.Deployed))
    // predict output: one FLOAT column, one row per test row, labels 0/1/2
    val preds = spark.read
      .schema(StructType(Seq(StructField("prediction", FloatType))))
      .csv(cfg.predictOut)
    val nTest = BTP.csvScan(spark, cfg.testCsv).count()
    assert(preds.count() == nTest)
    val labels = preds.select("prediction").distinct()
      .collect().map(_.getFloat(0)).toSet
    assert(labels.subsetOf(Set(0f, 1f, 2f)))
  }

  test("second execution: champion-challenger promotes new, deprecates old") {
    val cfg = mkFixtures(s"${Work.dir}/test_wf_cc")
    BTP.runOnce(spark, cfg)
    // second execution re-trains on the same data: equal score, and
    // new >= deployed promotes the challenger (processor.py:188-198)
    val wf2 = BTP.runOnce(spark, cfg)
    val versions = wf2.registry.modelVersions(cfg.modelName)
    assert(versions.map(v => v.version -> v.stage) ==
      Seq(1 -> Stage.Deprecated, 2 -> Stage.Deployed))
    // both scores appended to the artifact file (processor.py:184-187)
    val artifact = Files.readString(
      Paths.get(s"${cfg.workdir}/${cfg.artifactName}.txt"))
    assert(artifact.linesIterator.size == 2)
    assert(artifact.contains("deployed model version: 1"))
    assert(artifact.contains("generated model version: 2"))
    // the identical retrain ties, and both scores equal a brute-force
    // k=5 accuracy over the collected model and validation rows
    val scores = artifact.linesIterator.map(_.split("scores: ")(1).toDouble).toSeq
    assert(scores(0) == scores(1), s"identical retrain must tie: $scores")
    val (refsDf, k) = graft.ml.Knn.load(spark, versions.head.path)
    val refs = refsDf.collect().map(r =>
      graft.ml.Knn.Ref(r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
    val predict = graft.ml.Knn.predictFn(spark, refs, k)
    val test = BTP.csvScan(spark, cfg.testCsv).collect()
    val correct = test.count(r => predict((0 until 4).map(r.getFloat(_).toDouble)) ==
      r.getFloat(4).toInt)
    assert(scores(0) == correct.toDouble / test.length,
      s"scores $scores vs brute force $correct/${test.length}")
  }

  test("validate leaves no materialized scratch behind") {
    val cfg = mkFixtures(s"${Work.dir}/test_wf_scratch")
    def leftovers = Option(new java.io.File(Work.dir).list()).toSeq.flatten
      .count(_.startsWith("mat_wf_validation_"))
    val before = leftovers
    (1 to 3).foreach(_ => BTP.runOnce(spark, cfg))
    assert(leftovers == before)
  }

  test("predict fires only after DEPLOYED despite VALIDATED firing first") {
    val cfg = mkFixtures(s"${Work.dir}/test_wf_order")
    val wf = BTP.runOnce(spark, cfg)
    val log = wf.bus.log.map(_._1)
    val iValidated = log.indexOf(Events.ModelValidated)
    val iDeployed = log.indexOf(Events.ModelDeployed)
    assert(iValidated >= 0 && iDeployed >= 0 && iValidated < iDeployed)
    // yet predict observed the DEPLOYED stage (it succeeded) — queued
    // bus drains VALIDATED only after validate set DEPLOYED
    assert(wf.ranJobs.last == "predict")
  }

  test("statement set defers inserts and shares a twice-inserted scan") {
    import graft.workflow.StatementSet
    val ss = new StatementSet
    val df = Tables(spark, sf, "nation")
    var order = List.empty[String]
    ss.addInsert(df) { d => order ::= s"a:${d.count()}" }
    ss.addInsert(df) { d =>
      order ::= s"b:${d.count()}:cached=${d.storageLevel.useMemory}"
    }
    assert(order.isEmpty, "inserts must not run before execute()")
    ss.execute()
    assert(order.reverse == List("a:25", "b:25:cached=true"),
      s"got $order") // shared frame persisted across the fan-out
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "shared frame must be unpersisted after execute()")
  }

  test("processors resolve dataset metadata from the registry by name") {
    val cfg = mkFixtures(s"${Work.dir}/test_wf_ds")
    val wf = BTP.runOnce(spark, cfg)
    // build() registered the five datasets; sources/sinks resolved them
    val names = Seq("train_csv", "test_csv", "train_stream",
      "predict_stream", "predict_sink")
    names.foreach(n => assert(wf.registry.getDataset(n).isDefined, n))
    assert(wf.registry.getDataset("train_stream").get.uri == "scope/train-stream")
    assert(wf.registry.getDataset("predict_sink").get.uri == cfg.predictOut)
  }

  test("registry state survives reload from disk") {
    val cfg = mkFixtures(s"${Work.dir}/test_wf_reload")
    val wf = BTP.runOnce(spark, cfg)
    val fresh = new graft.registry.Registry(cfg.workdir, new graft.workflow.EventBus)
    assert(fresh.modelVersions(cfg.modelName) ==
      wf.registry.modelVersions(cfg.modelName))
    assert(fresh.getArtifactByName(cfg.artifactName).isDefined)
    assert(fresh.getDataset("nonexistent").isEmpty)
  }

  test("stopAll halts control-edge cascading; run() re-arms (stop_all analog)") {
    val cfg = mkFixtures(s"${Work.dir}/test_wf_stop")
    val wf = new graft.workflow.Workflow(spark, cfg.workdir)
    BTP.build(wf, cfg)
    wf.stopAll()
    // a stopped workflow ignores event-driven starts
    wf.bus.publish(graft.workflow.Events.JobFinished, "datagen")
    assert(wf.ranJobs.isEmpty, "control edge fired on a stopped workflow")
    // a new execution re-arms and the full cascade runs
    wf.run(Seq("datagen"))
    assert(wf.ranJobs == Seq("datagen", "train", "validate", "predict"))
  }
}
