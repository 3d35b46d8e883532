package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** Runs one workload in this JVM and writes its result as JSON.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1
  * --data SF_DIR --tmp RUN_DIR --result FILE --layers NAME,... [--spans FILE]
  *
  * Untraced, the result holds the end-to-end metrics; traced, the
  * per-layer metrics named by --layers (those BENCHMARK.json declares).
  * Started by run.py, which also checks query outputs and prints the
  * benchmark's result line. */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = Workload.byName(arg("workload"))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.get(cores)
    GraftSession.muteBenignGlobalWindowWarn()
    val r = new Run(spark, arg("seed").toLong, arg("seconds").toDouble,
      arg("trace") == "1", arg("data"), Paths.get(arg("tmp")))
    workload.setup(r)
    val deadline = r.startMeasure()
    workload.measure(r, deadline)
    System.err.println(f"[perfbench] ${r.ops.size} ops: " +
      r.ops.map(o => f"${o._1}%.3f").mkString(" ") +
      f"; passes: ${r.passes.map(p => f"$p%.3f").mkString(" ")}")
    val metrics =
      if (r.traced) perLayer(r, workload, arg("layers").split(",").toSeq)
      else endToEnd(r.measureStartMs, r.ops.map(_._1).toSeq, r.passes.toSeq)
    args.get("spans").foreach(p => r.tracer.write(Paths.get(p)))
    val tail = Stats.tail(r.ops.map(_._1).toSeq)
    val info = Map(
      "cores" -> cores.toDouble,
      "ops" -> r.ops.size.toDouble,
      "passes" -> r.passes.size.toDouble,
      "tail_percentile" -> tail.map(_.percentile).getOrElse(Double.NaN),
      "tail_s" -> tail.map(_.value).getOrElse(Double.NaN))
    // the engine's DuckDB oracle SQL for each written output, as Verify
    // hands it out
    val sfTag = graft.Work.publishTag(r.dataDir)
    val oracle = graft.SparkEntry.oracleSql
    val outputs = r.outputs.map { case (k, p) =>
      s"""[${str(k)},${str(p)},${str(oracle(k).replace("@SF@", sfTag))}]"""
    }
    val json =
      s"""{"attempted":${r.attempted},"failed":${r.failed},""" +
        s""""metrics":${obj(metrics)},"info":${obj(info)},""" +
        s""""outputs":${outputs.mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(arg("result")), json)
    spark.stop()
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def obj(m: Iterable[(String, Double)]): String =
    m.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)

  /** Wall seconds, as measured.
    * @param measureStartMs epoch ms of the first timed op
    * @param lat             latency of each timed op
    * @param passes          wall of each complete pass */
  def endToEnd(measureStartMs: Long, lat: Seq[Double],
      passes: Seq[Double]): Seq[(String, Double)] = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Seq(
      "setup_s" -> (measureStartMs - jvmStart) / 1e3,
      "peak_rss_mb" -> peakRssMb(),
      "op_p50_s" -> (if (lat.isEmpty) Double.NaN else Stats.median(lat)),
      "pass_s" -> (if (passes.isEmpty) Double.NaN else Stats.median(passes)))
  }

  /** @param declared the per-layer metric names, in the order printed */
  def perLayer(r: Run, w: Workload, declared: Seq[String]): Seq[(String, Double)] = {
    val t = r.tracer
    val sum = t.summarise(w.roots)
    val n = math.max(sum.ops, 1).toDouble
    val spans = t.spans
    def c(name: String): Double = Option(t.counters.get(name)).map(_.doubleValue).getOrElse(0.0)
    def spanSum(name: String): Double = spans.filter(_.name == name).map(_.dur).sum / 1e9
    def spanCount(name: String): Double = spans.count(_.name == name).toDouble
    val prog = t.progress.asScala.toSeq
    def dur(key: String): Double =
      prog.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)).sum / 1e3
    val state = prog.flatMap(_.stateOperators.headOption)
    // streaming.start_s: from each consumer run's start to its first progress
    val starts = spans.filter(s => s.name == "streaming.query").flatMap { s =>
      prog.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L)
        .filter(ts => ts >= s.start - 1000000L && ts <= s.end).minOption
        .map(ts => math.max(0L, ts - s.start) / 1e9)
    }
    val (onLat, offLat) = r.ops.partition(_._2)
    val overhead =
      if (onLat.isEmpty || offLat.isEmpty) Double.NaN
      else Stats.median(onLat.map(_._1).toSeq) - Stats.median(offLat.map(_._1).toSeq)
    val values: Map[String, Double] = Map(
      "query.build_s" -> spanSum("query.build") / n,
      "query.action_s" -> spanSum("query.action") / n,
      "catalyst.executions" -> c("catalyst.executions") / n,
      "catalyst.analysis_s" -> c("catalyst.analysis_s") / n,
      "catalyst.optimization_s" -> c("catalyst.optimization_s") / n,
      "catalyst.planning_s" -> c("catalyst.planning_s") / n,
      "spark.jobs" -> c("spark.jobs") / n,
      "spark.stages" -> c("spark.stages") / n,
      "spark.tasks" -> c("spark.tasks") / n,
      "spark.job_wall_s" -> spanSum("spark.job") / n,
      "spark.task_run_s" -> c("spark.task_run_s") / n,
      "spark.task_deser_s" -> c("spark.task_deser_s") / n,
      "spark.sched_delay_s" -> c("spark.sched_delay_s") / n,
      "spark.max_task_share" -> t.maxTaskShare,
      "spark.shuffle_write_bytes" -> c("spark.shuffle_write_bytes") / n,
      "spark.shuffle_fetch_wait_s" -> c("spark.shuffle_fetch_wait_s") / n,
      "spark.input_bytes" -> c("spark.input_bytes") / n,
      "spark.driver_gap_s" -> sum.driverGap / n,
      "ops.agg_time_s" -> c("ops.agg_time_s") / n,
      "ops.scan_time_s" -> c("ops.scan_time_s") / n,
      "connector.append_s" -> spanSum("connector.append") / n,
      "connector.appends" -> spanCount("connector.append") / n,
      "connector.list_s" -> spanSum("connector.list") / n,
      "connector.segments_live" ->
        (if (spanCount("connector.list") == 0) 0.0
         else c("connector.segments_live") / spanCount("connector.list")),
      "streaming.start_s" -> (if (starts.isEmpty) 0.0 else starts.sum / starts.size),
      "streaming.latest_offset_s" -> dur("latestOffset") / n,
      "streaming.commit_s" -> (dur("walCommit") + dur("commitOffsets")) / n,
      "streaming.batches" -> prog.size / n,
      "streaming.add_batch_s" -> dur("addBatch") / n,
      "streaming.input_rows" -> prog.map(_.numInputRows).sum / n,
      "streaming.state_rows" ->
        (if (state.isEmpty) 0.0 else state.map(_.numRowsTotal).sum.toDouble / state.size),
      "streaming.state_bytes" ->
        (if (state.isEmpty) 0.0 else state.map(_.memoryUsedBytes).sum.toDouble / state.size),
      "streaming.rows_dropped_by_watermark" ->
        state.map(_.numRowsDroppedByWatermark).sum / n,
      "workflow.datagen_s" -> spanSum("workflow.datagen") / n,
      "workflow.train_s" -> spanSum("workflow.train") / n,
      "workflow.validate_s" -> spanSum("workflow.validate") / n,
      "workflow.predict_s" -> spanSum("workflow.predict") / n,
      "registry.lookup_s" -> c("registry.lookup_s") / n,
      "jvm.gc_s" -> (r.gcMs() - r.gcStartMs) / 1e3 / math.max(r.ops.size, 1),
      "trace.unattributed_frac" ->
        (if (sum.opWall == 0) 0.0 else sum.unattributed / sum.opWall),
      "trace.overhead_s" -> overhead) ++
      sum.self.map { case (l, v) => s"$l.self_s" -> v / n } ++
      r.layer
    val undeclared = values.keySet -- declared
    require(undeclared.isEmpty, s"undeclared per-layer metrics: $undeclared")
    // a layer the workload does not exercise reads 0
    declared.map(m => m -> values.getOrElse(m, 0.0))
  }
}
