package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** One completed action's execution profile, read from the physical
  * plan's own metrics. */
final case class QueryMetric(
    action: String,
    durationMs: Long,
    scanRows: Long,
    shuffleBytes: Long,
    failed: Boolean)

/** Pipeline observability: a QueryExecutionListener that profiles every
  * completed action from the executed plan's metrics — rows scanned at
  * the sources and bytes through shuffle exchanges, the two numbers a
  * 100 TB operator actually watches (is pruning working? which stage
  * moves the data?). Passive: reads the metrics Spark already
  * maintains, adds no instrumentation to the hot path.
  *
  * {{{
  *   val m = GraftMetrics.install(spark)
  *   // ... run pipeline ...
  *   m.snapshot.foreach(println)   // or m.clear() between stages
  * }}}
  */
final class GraftMetrics private () extends QueryExecutionListener {

  private val buf = new ConcurrentLinkedQueue[QueryMetric]

  /** The final physical tree: AQE hides the live plan behind
    * AdaptiveSparkPlanExec; unwrap it (and any nested adaptive
    * subtrees) so metric collection sees the executed operators. */
  private def unwrap(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    // materialized AQE stages are leaves wrapping their real subtree
    case q: QueryStageExec => q +: unwrap(q.plan)
    // a reused exchange POINTS at a subtree that executed once and
    // shares its metric objects — descending would double-count it
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: other.children.flatMap(unwrap)
  }

  private def metricSum(plans: Seq[SparkPlan], nodeContains: String,
      metricKeys: Set[String]): Long =
    plans.filter(_.nodeName.contains(nodeContains))
      .flatMap(_.metrics.collect {
        case (k, m) if metricKeys(k) => math.max(0L, m.value)
      })
      .sum

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val plans = unwrap(qe.executedPlan)
    buf.add(QueryMetric(
      action = funcName,
      durationMs = durationNs / 1000000L,
      scanRows = metricSum(plans, "Scan", Set("numOutputRows")),
      // shuffleBytesWritten alone: it exists only on shuffle exchanges
      // (broadcast exchanges carry dataSize, which is not shuffle
      // volume), and summing dataSize too would count each shuffle
      // roughly twice
      shuffleBytes = metricSum(plans, "Exchange",
        Set("shuffleBytesWritten")),
      failed = false)): Unit
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit =
    buf.add(QueryMetric(funcName, 0L, 0L, 0L, failed = true)): Unit

  def snapshot: Seq[QueryMetric] = buf.iterator().asScala.toSeq

  def clear(): Unit = buf.clear()
}

object GraftMetrics {
  /** Install a fresh listener on the session and return it. */
  def install(spark: SparkSession): GraftMetrics = {
    val m = new GraftMetrics
    spark.listenerManager.register(m)
    m
  }

  def uninstall(spark: SparkSession, m: GraftMetrics): Unit =
    spark.listenerManager.unregister(m)
}

/** Cumulative Spark (jobs, stages, tasks) at one instant; subtract two
  * snapshots for the cost of what ran between them. */
final case class JobCounts(jobs: Int, stages: Int, tasks: Int) {
  def -(o: JobCounts): JobCounts =
    JobCounts(jobs - o.jobs, stages - o.stages, tasks - o.tasks)
}

/** The one job/stage/task counter the harness mains and tests share.
  * Counts at job start from the job's planned `stageInfos` (skipped
  * stages included — that is the plan's shape, not the cluster's
  * luck), and keeps a per-job histogram keyed by short call site,
  * which attributes eager `Work.materialize` builds to their source
  * lines. Scheduler events arrive on an asynchronous bus, so every
  * read drains it first: an undrained read under-counts the action
  * just run and leaks its late jobs into the next baseline.
  *
  * {{{
  *   val c = JobCounter.install(spark)
  *   val c0 = c.snapshot()
  *   // ... run an action ...
  *   val cost = c.snapshot() - c0
  * }}}
  */
final class JobCounter private (sc: org.apache.spark.SparkContext)
    extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.sql.execution.SQLExecution
  import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
    SparkListenerSQLExecutionStart}

  private var counts = JobCounts(0, 0, 0)
  private val sites = scala.collection.mutable.Map.empty[String, Int]
  // live SQL execution id -> its description, which is the short call
  // site of the action that started it. AQE submits a query's stage
  // jobs from a pool thread whose own call site names no user code, so
  // a job inside an execution is attributed to the execution. Touched
  // only by the bus thread, which delivers events one at a time.
  private val execSites = scala.collection.mutable.Map.empty[String, String]

  override def onOtherEvent(
      e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execSites(s.executionId.toString) = s.description
    case s: SparkListenerSQLExecutionEnd =>
      execSites.remove(s.executionId.toString): Unit
    case _ => ()
  }

  override def onJobStart(
      j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
    // outside any execution, the result stage (created last, highest
    // id) is named after the job's call site
    val site = Option(j.properties)
      .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      .flatMap(execSites.get).filter(_.nonEmpty)
      .orElse(j.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
      .getOrElse("?")
    synchronized {
      counts = JobCounts(counts.jobs + 1, counts.stages + j.stageInfos.size,
        counts.tasks + j.stageInfos.map(_.numTasks).sum)
      sites(site) = sites.getOrElse(site, 0) + 1
    }
  }

  def snapshot(): JobCounts = {
    org.apache.spark.sql.graftbridge.ListenerBridge.drain(sc)
    synchronized(counts)
  }

  /** Cumulative jobs per short call site, drained like [[snapshot]]. */
  def callSites(): Map[String, Int] = {
    org.apache.spark.sql.graftbridge.ListenerBridge.drain(sc)
    synchronized(sites.toMap)
  }
}

object JobCounter {
  def install(spark: SparkSession): JobCounter = {
    val c = new JobCounter(spark.sparkContext)
    spark.sparkContext.addSparkListener(c)
    c
  }

  def uninstall(spark: SparkSession, c: JobCounter): Unit =
    spark.sparkContext.removeSparkListener(c)
}

/** One micro-batch's progress snapshot. */
final case class BatchProgress(
    queryName: String,
    batchId: Long,
    inputRows: Long,
    processedRowsPerSecond: Double,
    stateRows: Long,
    watermark: String)

/** Streaming twin of [[GraftMetrics]]: per-micro-batch progress —
  * input volume, throughput, stateful-operator state size, and the
  * event-time watermark. State size is the number to alarm on in a
  * long-running streaming pipeline (a watermark that stops advancing
  * shows up here as monotonically growing stateRows).
  */
final class GraftStreamingMetrics private ()
    extends org.apache.spark.sql.streaming.StreamingQueryListener {

  import org.apache.spark.sql.streaming.StreamingQueryListener._

  private val buf = new ConcurrentLinkedQueue[BatchProgress]

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    buf.add(BatchProgress(
      queryName = Option(p.name).getOrElse(p.id.toString),
      batchId = p.batchId,
      inputRows = p.numInputRows,
      processedRowsPerSecond = p.processedRowsPerSecond,
      stateRows = p.stateOperators.map(_.numRowsTotal).sum,
      watermark = Option(p.eventTime.get("watermark")).getOrElse(""))): Unit
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()

  def snapshot: Seq[BatchProgress] = buf.iterator().asScala.toSeq

  def clear(): Unit = buf.clear()
}

object GraftStreamingMetrics {
  def install(spark: SparkSession): GraftStreamingMetrics = {
    val m = new GraftStreamingMetrics
    spark.streams.addListener(m)
    m
  }

  def uninstall(spark: SparkSession, m: GraftStreamingMetrics): Unit =
    spark.streams.removeListener(m)
}

/** Row-level pipeline gate via `Dataset.observe` — the user-facing
  * metrics face next to the listeners above: named aggregates attached
  * to a frame are computed DURING the action (inside the same pass,
  * zero extra jobs) and read back after it completes. This is how a
  * production writer publishes "rows written / nulls seen / value
  * total" counters without a second scan — at 100 TB the second scan
  * IS the cost, and a separate `.count()` can silently diverge from
  * what the action actually wrote (retries, concurrent updates).
  */
object ObservedGate {

  /** Run `action` over `df` with the given named metric aggregates
    * attached; returns the observed metric map once the action
    * finishes. Metrics must be aggregate expressions over the frame's
    * columns (Spark's observe contract).
    *
    * CONTRACT — the action MUST execute a Spark action on the frame it
    * is handed (the observed frame), not on the original `df`:
    * `Observation.get` blocks until the observed plan runs, so acting
    * on anything else deadlocks the caller. Ordering below is
    * load-bearing: `action(...)` runs BEFORE `obs.get`, so an action
    * that throws propagates to the caller instead of parking on a get
    * that can never complete — do not reorder (r12 ADVICE). */
  def run(df: org.apache.spark.sql.DataFrame, gateName: String,
      metrics: Seq[org.apache.spark.sql.Column])(
      action: org.apache.spark.sql.DataFrame => Unit)
      : Map[String, Any] = {
    require(metrics.nonEmpty, "ObservedGate.run: no metrics")
    val obs = org.apache.spark.sql.Observation(gateName)
    val observed = df.observe(obs, metrics.head, metrics.tail: _*)
    action(observed)
    obs.get
  }
}
