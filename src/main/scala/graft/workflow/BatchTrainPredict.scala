package graft.workflow

import graft.{QueryDef, Tables, Work}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference workflow end-to-end — batch_train_batch_predict
  * (workflow.py + processor.py) re-expressed on the Spark engine:
  *
  *   datagen: CSV → identity op → two JSON log streams (one job, two
  *            sinks — the reference's multi-sink StatementSet,
  *            processor.py:73,89,278)
  *   train:   bounded stream scan → KNN train → model version GENERATED
  *   validate (on MODEL_GENERATED): champion-challenger — exact
  *            semantics of processor.py:154-199
  *   predict  (on MODEL_VALIDATED): bounded stream scan → broadcast-UDF
  *            projection → CSV sink (prediction FLOAT, processor.py:270)
  *
  * The queued EventBus makes the reference's async race deterministic:
  * VALIDATED is published before DEPLOYED inside validate, but predict
  * (subscribed to VALIDATED) only runs when the queue drains — after
  * the DEPLOYED stage is set.
  */
object BatchTrainPredict {

  /** The reference's declared 5×FLOAT schema (processor.py:45-51,
    * EXAMPLE_COLUMNS processor.py:35). */
  val irisSchema: StructType = StructType(
    Seq("sl", "sw", "pl", "pw", "type").map(StructField(_, FloatType)))

  final case class Config(
      trainCsv: String,
      testCsv: String,
      workdir: String,
      modelName: String = "iris_knn",
      artifactName: String = "validate_result",
      k: Int = 5) {
    val predictOut: String = s"$workdir/predict_result"
  }

  /** Declared-schema CSV scan with malformed rows dropped
    * (csv.ignore-parse-errors=true → DROPMALFORMED, processor.py:55). */
  def csvScan(spark: SparkSession, uri: String): DataFrame =
    spark.read.schema(irisSchema).option("mode", "DROPMALFORMED").csv(uri)

  /** (qid, qvec, true_label) from an iris-schema frame; label FLOAT in
    * the reference's schema, int for voting. */
  private[workflow] def asQueries(df: DataFrame): DataFrame =
    df.select(
      monotonically_increasing_id().as("qid"),
      array(col("sl"), col("sw"), col("pl"), col("pw"))
        .cast(ArrayType(DoubleType)).as("qvec"),
      col("type").cast(IntegerType).as("true_label"))

  private[workflow] def asRefs(df: DataFrame): DataFrame =
    df.select(
      monotonically_increasing_id().as("rid"),
      array(col("sl"), col("sw"), col("pl"), col("pw"))
        .cast(ArrayType(DoubleType)).as("rvec"),
      col("type").cast(IntegerType).as("label"))

  /** Wire the four jobs and control edges onto `wf` (workflow.py:40-120):
    * every job is a [[ProcessorGraph]] of the reference's ten processor
    * classes (Processors.scala), with sources/sinks resolving registered
    * dataset metadata by name and sinks deferred through the job's
    * StatementSet — the register-then-resolve + statement-set
    * architecture of workflow.py:42-44 / processor.py:73,89,278.
    */
  def build(wf: Workflow, cfg: Config): Unit = {
    val scope = "scope"
    val reg = wf.registry
    reg.registerModel(cfg.modelName)
    reg.registerArtifact(cfg.artifactName,
      s"${cfg.workdir}/${cfg.artifactName}.txt")
    // dataset metadata (af.register_dataset, workflow.py:42-44,50-52,
    // 66-68,86-87,107-108): name → format/uri; processors do their own
    // I/O against the resolved uri
    reg.registerDataset("train_csv", "csv", cfg.trainCsv)
    reg.registerDataset("test_csv", "csv", cfg.testCsv)
    reg.registerDataset("train_stream", "stream", s"$scope/train-stream")
    reg.registerDataset("predict_stream", "stream", s"$scope/predict-stream")
    reg.registerDataset("predict_sink", "csv", cfg.predictOut)

    // datagen: two source→identity→stream-sink pipelines in ONE job,
    // both inserts queued in one StatementSet executed at job end
    // (multi_sink_statement_set, processor.py:73,89; workflow.py:40-71)
    wf.processorJob("datagen") { g =>
      val train = g.readDataset("train_csv", new Processors.CsvSource)
      val trainOut = g.userDefineOperation(Seq(train), Processors.Identity)
      g.writeDataset(trainOut, "train_stream",
        new Processors.StreamSink(truncate = true))
      val test = g.readDataset("test_csv", new Processors.CsvSource)
      val testOut = g.userDefineOperation(Seq(test), Processors.Identity)
      g.writeDataset(testOut, "predict_stream",
        new Processors.StreamSink(truncate = true)): Unit
    }

    wf.processorJob("train") { g =>
      val src = g.readDataset("train_stream", new Processors.StreamBoundedSource)
      g.train(Seq(src), cfg.modelName,
        new Processors.ModelTrainer(cfg.workdir, cfg.k)): Unit
    }

    wf.processorJob("validate") { g =>
      val v = g.readDataset("test_csv", new Processors.CsvSource)
      g.modelValidate(Seq(v), cfg.modelName,
        new Processors.ModelValidator(cfg.artifactName)): Unit
    }

    wf.processorJob("predict") { g =>
      val src = g.readDataset("predict_stream", new Processors.StreamBoundedSource)
      val preds = g.predict(Seq(src), cfg.modelName, new Processors.Predictor)
      g.writeDataset(preds, "predict_sink", new Processors.CsvSink): Unit
    }

    // Control edges (workflow.py:114-120)
    wf.actionOnJobStatus(job = "train", upstream = "datagen")
    wf.actionOnModelVersionEvent("validate", Events.ModelGenerated, cfg.modelName)
    wf.actionOnModelVersionEvent("predict", Events.ModelValidated, cfg.modelName)
  }

  /** One workflow execution (start_new_workflow_execution,
    * workflow.py:126): fire datagen; edges cascade the rest. */
  def runOnce(spark: SparkSession, cfg: Config): Workflow = {
    val wf = new Workflow(spark, cfg.workdir)
    build(wf, cfg)
    wf.run(Seq("datagen"))
    wf
  }

  /** workflow_e2e query: derive iris-shaped CSVs from the embeddings
    * table (4 leading dims, 3 labels), run the full pipeline, return the
    * predictions the CSV sink wrote. The orchestration (registry, event
    * edges, statement set) isn't SQL — but the VALUES it produces reduce
    * to the KNN prediction itself, which is: the oracle replays the
    * train/predict split and the k=5 vote in SQL. (Float CSV round-trips
    * are exact — shortest-roundtrip formatting — and the engine's
    * rid-based distance tie-break can only differ from the oracle's
    * vec_id ordering on exact float distance ties, absent in this data.)
    */
  val e2e = QueryDef(
    "workflow_e2e",
    (s, dir) => {
      val base = Work.scratch("workflow_e2e")
      Work.clean(base)
      val emb = Tables(s, dir, "embeddings").select(
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
      val cfg = Config(s"$base/train_csv", s"$base/test_csv", s"$base/wf")
      runOnce(s, cfg)
      s.read.schema(StructType(Seq(StructField("prediction", FloatType))))
        .csv(cfg.predictOut)
    },
    Some("""
      WITH e AS (SELECT vec_id,
                        [CAST(CAST(embedding[1] AS FLOAT) AS DOUBLE),
                         CAST(CAST(embedding[2] AS FLOAT) AS DOUBLE),
                         CAST(CAST(embedding[3] AS FLOAT) AS DOUBLE),
                         CAST(CAST(embedding[4] AS FLOAT) AS DOUBLE)] AS v,
                        CAST(label % 3 AS INT) AS label
                 FROM embeddings),
           q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id % 5 = 0),
           r AS (SELECT vec_id AS rid, v, label FROM e WHERE vec_id % 5 <> 0),
           d AS (SELECT q.qid, r.rid, r.label, list_distance(q.v, r.v) AS dist
                 FROM q CROSS JOIN r),
           topk AS (SELECT qid, rid, label FROM
                     (SELECT *, row_number() OVER (PARTITION BY qid
                              ORDER BY dist, rid) AS rn FROM d)
                    WHERE rn <= 5),
           votes AS (SELECT qid, label, count(*) AS c
                     FROM topk GROUP BY 1, 2),
           pred AS (SELECT qid, label FROM
                     (SELECT *, row_number() OVER (PARTITION BY qid
                              ORDER BY c DESC, label) AS vr FROM votes)
                    WHERE vr = 1)
      SELECT CAST(label AS FLOAT) AS prediction FROM pred"""))

  val all: Seq[QueryDef] = Seq(e2e)
}
