package graft.workflow

import graft.Work
import graft.ml.Knn
import graft.registry.Stage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.FloatType

/** The reference's ten pluggable processors (processor.py:39-278),
  * re-expressed as [[Processor]] instances over the engine's
  * ExecutionContext: every source/sink resolves its dataset metadata by
  * name from the registry (the register-then-resolve pattern of
  * workflow.py:42-44 + processor.py:42,70,148), sinks queue into the
  * job's deferred [[StatementSet]], and the Predictor loads its model
  * once in `open()` (processor.py:233-242), not per row or per call.
  *
  * Stream datasets use `scope/stream` uris against the job's LogStore.
  */
object Processors {

  private def streamPath(uri: String): (String, String) = {
    val i = uri.indexOf('/')
    require(i > 0, s"stream dataset uri must be scope/stream, got: $uri")
    (uri.substring(0, i), uri.substring(i + 1))
  }

  /** Declared-schema CSV source (DatagenSource processor.py:44-58;
    * ValidateDatasetReader processor.py:142-151). */
  final class CsvSource extends Processor {
    override def process(ctx: ExecutionContext,
        inputs: Seq[DataFrame]): Seq[DataFrame] =
      Seq(BatchTrainPredict.csvScan(ctx.spark, ctx.dataset.uri))
  }

  /** Identity pass-through (DatagenExecutor processor.py:62-64). */
  object Identity extends Processor {
    override def process(ctx: ExecutionContext,
        inputs: Seq[DataFrame]): Seq[DataFrame] = inputs
  }

  /** JSON append to a named log stream, deferred via the StatementSet
    * (DatagenSink processor.py:67-90; add_insert processor.py:89).
    * `truncate`: re-create the stream on open, mirroring the reference
    * demo's deploy-time stream creation (README.md:89-91), so a
    * re-execution appends to exactly one copy of the data.
    */
  final class StreamSink(truncate: Boolean = false) extends Processor {
    override def open(ctx: ExecutionContext): Unit = if (truncate) {
      val (scope, stream) = streamPath(ctx.dataset.uri)
      Work.clean(ctx.store.path(scope, stream))
    }
    override def process(ctx: ExecutionContext,
        inputs: Seq[DataFrame]): Seq[DataFrame] = {
      val (scope, stream) = streamPath(ctx.dataset.uri)
      ctx.statements.addInsert(inputs.head)(
        df => ctx.store.append(df, scope, stream))
      Nil
    }
  }

  /** Bounded scan of a log stream (TrainSource processor.py:93-114,
    * PredictSource processor.py:202-225 — the reference duplicates the
    * class; the engine reuses one). */
  final class StreamBoundedSource extends Processor {
    override def process(ctx: ExecutionContext,
        inputs: Seq[DataFrame]): Seq[DataFrame] = {
      val (scope, stream) = streamPath(ctx.dataset.uri)
      Seq(ctx.store.readBounded(ctx.spark, scope, stream,
        BatchTrainPredict.irisSchema))
    }
  }

  /** KNN fit + model persist + version registration
    * (ModelTrainer processor.py:118-138): model = the reference set. */
  final class ModelTrainer(workdir: String, k: Int) extends Processor {
    override def process(ctx: ExecutionContext,
        inputs: Seq[DataFrame]): Seq[DataFrame] = {
      val model = ctx.config("model")
      val refs = BatchTrainPredict.asRefs(inputs.head)
      val version = ctx.registry.modelVersions(model).size + 1
      val path = s"$workdir/models/v$version"
      Knn.save(refs, path, k)
      ctx.registry.registerModelVersion(model, path): Unit
      Nil
    }
  }

  /** Champion-challenger validation — exact reference semantics
    * (ModelValidator processor.py:154-199): score candidate vs deployed
    * on the validation input; promote on >=, demote the old champion.
    * Both models are scored in one Spark pass over one scan of the
    * validation input ([[Knn.accuracies]]), with no intermediate
    * materialization.
    */
  final class ModelValidator(artifactName: String) extends Processor {
    override def process(ctx: ExecutionContext,
        inputs: Seq[DataFrame]): Seq[DataFrame] = {
      val reg = ctx.registry
      val model = ctx.config("model")
      val deployed = reg.getDeployedModelVersion(model)
      val latest = reg.getLatestGeneratedModelVersion(model).get
      deployed match {
        case None =>
          reg.updateModelVersionStage(model, latest.version, Stage.Validated)
          reg.updateModelVersionStage(model, latest.version, Stage.Deployed)
          ()
        case Some(dep) =>
          // query side spread over the cores: every validation row is
          // scored against both reference sets, and a one-file CSV
          // scans as one task
          val queries = BatchTrainPredict.asQueries(
            inputs.head.repartition(ctx.spark.sparkContext.defaultParallelism))
          val Seq(newScore, depScore) = Knn.accuracies(queries,
            Seq(Knn.load(ctx.spark, latest.path), Knn.load(ctx.spark, dep.path)))
          reg.appendToArtifact(artifactName,
            s"deployed model version: ${dep.version} scores: $depScore")
          reg.appendToArtifact(artifactName,
            s"generated model version: ${latest.version} scores: $newScore")
          if (newScore >= depScore) {
            reg.updateModelVersionStage(model, dep.version, Stage.Deprecated)
            reg.updateModelVersionStage(model, latest.version, Stage.Validated)
            reg.updateModelVersionStage(model, latest.version, Stage.Deployed)
            ()
          }
      }
      Nil
    }
  }

  /** Scalar-UDF prediction (Predictor processor.py:228-258): `open()`
    * loads the DEPLOYED model exactly once per job (processor.py:233-242)
    * and registers the named UDF (register_function processor.py:253-257);
    * `process` is the expression-string projection (processor.py:258).
    */
  final class Predictor extends Processor {
    private var opened = false

    override def open(ctx: ExecutionContext): Unit = {
      val model = ctx.config("model")
      val dep = ctx.registry.getDeployedModelVersion(model).getOrElse(
        sys.error(s"no DEPLOYED version of model '$model'"))
      val (refsDf, k) = Knn.load(ctx.spark, dep.path)
      val refs = refsDf.collect().map(r =>
        Knn.Ref(r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
      Knn.registerPredictUdf(ctx.spark, "mypred", refs, k)
      opened = true
    }

    override def process(ctx: ExecutionContext,
        inputs: Seq[DataFrame]): Seq[DataFrame] = {
      require(opened, "Predictor.process before open()")
      val queries = BatchTrainPredict.asQueries(inputs.head)
      Seq(queries.select(expr("mypred(qvec)")
        .cast(FloatType).as("prediction")))
    }
  }

  /** Bounded CSV sink (PredictSink processor.py:261-278), deferred via
    * the StatementSet (add_insert processor.py:278). */
  final class CsvSink extends Processor {
    override def process(ctx: ExecutionContext,
        inputs: Seq[DataFrame]): Seq[DataFrame] = {
      val uri = ctx.dataset.uri
      ctx.statements.addInsert(inputs.head)(
        df => df.write.mode("overwrite").csv(uri))
      Nil
    }
  }
}
