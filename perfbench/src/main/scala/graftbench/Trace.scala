package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Self time per layer, driver gap, unattributed time and op wall, in
  * seconds summed over `ops` ops; see [[Tracer.summarise]]. */
final case class Summary(self: Map[String, Double], driverGap: Double,
    unattributed: Double, opWall: Double, ops: Int)

/** One timed interval. Times are epoch nanoseconds; `parent` is -1 for an
  * op (the unit the workload times) and for listener spans, whose parent
  * is resolved by time when the trace is summarised. */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, op: Int) {
  def dur: Long = end - start
  def layer: String = name.takeWhile(_ != '.')
}

/** The traced run's instrument. Spans are taken from the benchmark's own
  * calls into each engine module ([[op]], [[span]]) and from Spark's
  * public listener callbacks; they stay in memory until [[write]].
  *
  * Tracing is switched per unit of work ([[setOn]]): while it is off no
  * listener is registered and [[op]]/[[span]] only run their body, so the
  * off units of a traced run measure the untraced cost and the difference
  * is the tracing overhead. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis() * 1000000L

  /** Epoch nanoseconds on the monotonic clock. */
  def now(): Long = epochBase + (System.nanoTime() - nanoBase)

  private val ids = new AtomicInteger
  private val spansBuf = mutable.ArrayBuffer.empty[Span]
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  @volatile private var on = false

  def isOn: Boolean = on

  private def add(s: Span): Unit = spansBuf.synchronized { spansBuf += s; () }

  def spans: Seq[Span] = spansBuf.synchronized(spansBuf.toList)

  /** Sums and counts that are not intervals, per name. */
  val counters = new ConcurrentHashMap[String, java.lang.Double]
  def count(name: String, v: Double): Unit =
    if (on) counters.merge(name, v, (a, b) => a + b): Unit

  /** Stage walls and longest tasks, for spark.max_task_share. */
  private val stageWall = new java.util.concurrent.atomic.AtomicLong
  private val stageMaxTask = new java.util.concurrent.atomic.AtomicLong
  private val maxTask = new ConcurrentHashMap[(Int, Int), java.lang.Long]

  /** Time `body` as one op, the root span of everything it causes. */
  def op[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      sc.setLocalProperty(OpProp, id.toString)
      try timed(name, -1, id)(body)
      finally sc.setLocalProperty(OpProp, null)
    }

  /** Time `body` as a child of the innermost open span of this thread. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else stack.get match {
      case top :: _ => timed(name, top.id, top.op)(body)
      case Nil => body
    }

  private def timed[T](name: String, parent: Int, op: Int)(body: => T): T = {
    val id = if (parent < 0) op else ids.incrementAndGet()
    val open = Span(id, name, now(), 0L, parent, op)
    stack.set(open :: stack.get)
    try body
    finally {
      stack.set(stack.get.tail)
      add(open.copy(end = now()))
    }
  }

  /** Record an interval measured elsewhere (a listener, an event bus). */
  def record(name: String, start: Long, end: Long, op: Int = -1): Unit =
    if (on && end >= start) add(Span(ids.incrementAndGet(), name, start, end, -1, op))

  // --- listeners ------------------------------------------------------

  private val OpProp = "graftbench.op"
  private val jobStart = new ConcurrentHashMap[Int, (Long, Int)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProp)))
        .map(_.toInt).getOrElse(-1)
      jobStart.put(e.jobId, (e.time * 1000000L, op)): Unit
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, op) =>
        count("spark.jobs", 1)
        record("spark.job", t0, e.time * 1000000L, op)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      count("spark.stages", 1)
      for (a <- i.submissionTime; b <- i.completionTime) {
        stageWall.addAndGet(b - a)
        stageMaxTask.addAndGet(Option(maxTask.remove((i.stageId, i.attemptNumber())))
          .map(_.longValue).getOrElse(0L))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        val m = e.taskMetrics
        val info = e.taskInfo
        count("spark.tasks", 1)
        count("spark.task_run_s", m.executorRunTime / 1e3)
        count("spark.task_deser_s", m.executorDeserializeTime / 1e3)
        count("spark.sched_delay_s", math.max(0L, info.duration -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResultTime > 0)
            info.finishTime - info.gettingResultTime else 0L)) / 1e3)
        count("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        count("spark.shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        count("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
        maxTask.merge((e.stageId, e.stageAttemptId), info.duration,
          (a, b) => math.max(a, b)): Unit
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = phases(qe)
  }

  private def phases(qe: QueryExecution): Unit = {
    count("catalyst.executions", 1)
    val streaming = qe.getClass.getName.contains("IncrementalExecution")
    qe.tracker.phases.foreach { case (phase, p) =>
      count(s"catalyst.${phase}_s", p.durationMs / 1e3)
      record(s"catalyst.$phase" + (if (streaming) ".stream" else ""),
        p.startTimeMs * 1000000L, p.endTimeMs * 1000000L)
    }
    // per-operator SQL metrics of the executed plan, AQE stages included
    def walk(p: SparkPlan): Unit = {
      p.metrics.get("aggTime").foreach(m => count("ops.agg_time_s", m.value / 1e3))
      p.metrics.get("scanTime").foreach(m => count("ops.scan_time_s", m.value / 1e3))
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    try walk(qe.executedPlan)
    catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Streaming progress per micro-batch. */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on) {
        val p = e.progress
        progress.add(p)
        val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
        Option(p.durationMs.get("triggerExecution")).foreach(ms =>
          record("streaming.trigger", t0, t0 + ms.longValue * 1000000L))
      }
  }

  /** Switch tracing for the next unit of work. The bus is drained first,
    * so every event of a traced unit reaches the listeners and none of an
    * untraced one does. */
  def setOn(v: Boolean): Unit = if (v != on) {
    org.apache.spark.graftbench.Bus.drain(sc)
    if (v) {
      sc.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
      on = true
    } else {
      on = false
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }
  }

  /** Longest task over stage wall, summed over the traced stages. */
  def maxTaskShare: Double =
    if (stageWall.get == 0) 0.0 else stageMaxTask.get.toDouble / stageWall.get

  // --- summary ----------------------------------------------------------

  /** Spans that explain op time: Spark jobs, Catalyst phases, streaming
    * triggers and the benchmark's calls into the connector and registry.
    * The other spans only say which entry point or job time belongs to. */
  def isLeaf(s: Span): Boolean =
    Set("catalyst", "spark", "connector", "registry")(s.layer) ||
      s.name == "streaming.trigger"

  /** Spans caused by a consumer run rather than by a producer append. */
  private def streamSide(s: Span): Boolean =
    s.name.endsWith(".stream") || s.layer == "streaming"

  private def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** Per-op attribution of the recorded spans, summed over the ops named
    * in `roots`: self seconds per layer, the op wall covered by no Spark
    * job (driver gap), the op wall covered by no leaf span
    * (unattributed), and the op wall itself. */
  def summarise(roots: Set[String]): Summary = {
    val all = spans
    val opsAll = all.filter(s => s.parent < 0 && s.op == s.id)
    val ops = opsAll.filter(s => roots(s.name))
    // a listener span belongs to the op its job named, else to the latest
    // started op around it (a consumer op for streaming spans)
    def owner(s: Span): Option[Span] =
      if (s.op > 0) opsAll.find(_.id == s.op)
      else {
        val mid = s.start + s.dur / 2
        val around = opsAll.filter(o => o.start <= mid && mid <= o.end)
        val pick = if (streamSide(s)) around.filter(_.name != "append") else around
        (if (pick.nonEmpty) pick else around).sortBy(-_.start).headOption
      }
    val byOp = all.flatMap(s => owner(s).map(o => o.id -> s.copy(op = o.id)))
      .groupMap(_._1)(_._2)
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var gap, unattr, wall = 0.0
    ops.foreach { op =>
      val mine = byOp.getOrElse(op.id, Nil)
      // every span hangs under the innermost non-leaf span around it
      val frames = mine.filterNot(isLeaf)
      def parentOf(s: Span): Int =
        if (s.id == op.id) -1
        else frames.filter(f => f.id != s.id && f.start <= s.start && s.end <= f.end &&
          f.dur >= s.dur).sortBy(_.dur).headOption.map(_.id).getOrElse(op.id)
      val children = mine.groupBy(parentOf)
      mine.filter(_.id != op.id).foreach { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
        self(s.layer) += (s.dur - covered(kids, s.start, s.end)) / 1e9
      }
      val jobs = mine.filter(_.name == "spark.job").map(s => (s.start, s.end))
      gap += (op.dur - covered(jobs, op.start, op.end)) / 1e9
      val leaves = mine.filter(s => s.id != op.id && isLeaf(s)).map(s => (s.start, s.end))
      unattr += (op.dur - covered(leaves, op.start, op.end)) / 1e9
      wall += op.dur / 1e9
    }
    Summary(Tracer.Layers.map(l => l -> self(l)).toMap, gap, unattr, wall, ops.size)
  }

  /** Write every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.start).map(s =>
      s"""{"id":${s.id},"name":"${s.name}","start":${s.start},"end":${s.end},"parent":${s.parent},"op":${s.op}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
    ()
  }
}

object Tracer {
  /** The layers a span name can start with. */
  val Layers: Seq[String] =
    Seq("query", "catalyst", "spark", "connector", "streaming", "workflow", "registry")
}
