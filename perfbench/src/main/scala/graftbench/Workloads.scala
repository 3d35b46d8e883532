package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, QueryDef}
import graft.connector.LogStore
import graft.streaming.StreamOps
import graft.workflow.{BatchTrainPredict, Events, Workflow}

/** State of one benchmark run, shared by the workloads. */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Double,
    val traced: Boolean, val dataDir: String, val tmp: Path) {
  val tracer = new Tracer(spark)
  var attempted = 0
  var failed = 0

  /** Latency of each timed op, and whether its unit was traced. */
  val ops = mutable.ArrayBuffer.empty[(Double, Boolean)]
  /** Wall of each pass over the workload's fixed op list. */
  val passes = mutable.ArrayBuffer.empty[Double]
  /** Workload-measured per-layer values (already per op where summed). */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Query outputs written for the output check: key -> parquet dir. */
  val outputs = mutable.ArrayBuffer.empty[(String, String)]
  /** Epoch ms when the first timed op started, and JVM GC ms by then. */
  var measureStartMs = 0L
  var gcStartMs = 0L

  def fail(what: String, e: Throwable = null): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAILED $what" +
      Option(e).map(x => s": ${x.getClass.getSimpleName}: ${x.getMessage}").getOrElse(""))
  }

  /** Run `body` as one attempted op; an exception counts it failed. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case scala.util.control.NonFatal(e) => fail(what, e); None }
  }

  def check(what: String)(ok: => Boolean): Unit =
    attempt(what)(ok).foreach(good => if (!good) fail(s"$what: output mismatch"))

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  def startMeasure(): Long = {
    gcStartMs = gcMs()
    measureStartMs = System.currentTimeMillis()
    System.nanoTime() + (seconds * 1e9).toLong
  }

  def dir(name: String): String = tmp.resolve(name).toString
}

trait Workload {
  def name: String
  /** The op span names that count as this workload's ops in a trace. */
  def roots: Set[String]
  /** Untimed: warm-up that doubles as the output check. */
  def setup(r: Run): Unit
  /** Timed: run until the deadline (System.nanoTime). */
  def measure(r: Run, deadline: Long): Unit
}

object Workload {
  val all: Seq[Workload] =
    Seq(Relational, LogStream, TrainPredict)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))
}

/** A closed loop, one client, over ten engine query keys: operator CPU in
  * one task (the sf0.1 tables are one row group each, so aggregation time
  * dominates scan time); no log store, no eager builds. Each timed op is
  * the key's QueryDef function plus a noop-sink write, with the engine's
  * per-key conf policy before it and a cache drop after it. */
object Relational extends Workload {
  val name = "relational"
  val roots = Set("query")
  val keys = Seq("q1_agg", "q3_join_agg", "q5_window_topn", "q7_rollup",
    "q8_distinct_agg", "q12_json_extract", "q18_running_sum", "q22_cube",
    "q25_explode_wordcount", "q36_rank_family")

  private lazy val byName: Map[String, QueryDef] = {
    val m = graft.ops.Relational.all.map(d => d.name -> d).toMap
    val missing = keys.filterNot(k => m.contains(k) && graft.SparkEntry.oracleSql.contains(k))
    require(missing.isEmpty, s"$name: no query or no oracle SQL for ${missing.mkString(",")}")
    m
  }

  def setup(r: Run): Unit = {
    Gen.keyOrder(keys, r.seed, 0).foreach { k =>
      val out = r.dir(s"outputs/$k")
      GraftSession.applyQueryConfPolicy(r.spark)
      r.attempt(s"$name/$k (warm-up)") {
        byName(k).fn(r.spark, r.dataDir).coalesce(1).write.mode("overwrite").parquet(out)
        r.outputs += (k -> out)
      }
      GraftSession.dropAllCaches(r.spark)
    }
  }

  def measure(r: Run, deadline: Long): Unit = {
    var p = 1
    while (System.nanoTime() < deadline) {
      pass(r, p)
      p += 1
    }
    r.tracer.setOn(false)
  }

  /** One timed pass over the keys in the seed's order for pass `p`: each
    * op's latency and, when no op failed, the pass's wall. */
  private def pass(r: Run, p: Int): Unit = {
    val traced = r.traced && p % 2 == 1
    r.tracer.setOn(traced)
    var wall = 0L
    var ok = true
    Gen.keyOrder(keys, r.seed, p).foreach { k =>
      GraftSession.applyQueryConfPolicy(r.spark)
      val t0 = System.nanoTime()
      r.attempt(s"$name/$k") {
        r.tracer.op("query") {
          val df = r.tracer.span("query.build")(byName(k).fn(r.spark, r.dataDir))
          r.tracer.span("query.action")(
            df.write.format("noop").mode("overwrite").save())
        }
      } match {
        case Some(_) => r.ops += (((System.nanoTime() - t0) / 1e9, traced))
        case None => ok = false
      }
      GraftSession.dropAllCaches(r.spark)
      wall += System.nanoTime() - t0
    }
    if (ok) r.passes += wall / 1e9
  }
}

/** Open loop: a producer appends seeded event batches to the log store on
  * a fixed schedule while a consumer re-runs the windowed aggregate
  * (AvailableNow, one persistent checkpoint) over whatever has arrived;
  * then three fixed backlogs are drained, one consumer run each. */
object LogStream extends Workload {
  val name = "log_stream"
  val roots = Set("consume", "drain")

  val shape = Gen.EventShape(perTick = 1000, tickSpanS = 120)
  val periodMs = 400
  val drainTicks = 8
  val drains = 3
  val scope = "bench"

  private def frame(r: Run, stream: Int, ticks: Seq[Int]) = {
    val rows = ticks.flatMap(Gen.events(r.seed, stream, _, shape)).map(e =>
      Row(e.eventId, e.tsNanos, e.userId, e.eventType, e.value, e.props))
    // one segment per append: the batch arrives as one unit
    r.spark.createDataFrame(rows.asJava, StreamOps.eventSchema).coalesce(1)
  }

  /** One stream under test: its store, sink and checkpoint. */
  final class Stream(r: Run, val id: Int) {
    val store = LogStore(r.dir(s"streams$id"))
    val stream = "events"
    val out = r.dir(s"window$id/out")
    val ckpt = r.dir(s"window$id/ckpt")
    var ticks = 0
    var appends = 0
    var consumedRows = 0L
    var watermarkMs = Long.MinValue

    /** The events of the next `n` ticks, as one frame. */
    def batch(n: Int = 1): DataFrame = frame(r, id, ticks until ticks + n)

    /** Append a frame made by `batch(n)` in one call; returns the seconds
      * the append took, which exclude building the frame. */
    def append(df: DataFrame, n: Int = 1): Double = {
      val a = System.nanoTime()
      r.tracer.op("append")(r.tracer.span("connector.append")(
        store.append(df, scope, stream)))
      ticks += n
      appends += 1
      (System.nanoTime() - a) / 1e9
    }

    /** One consumer run; returns the rows it read. */
    def consume(opName: String): Long = r.tracer.op(opName) {
      val cut = r.tracer.span("connector.list")(store.streamCut(scope, stream))
      r.tracer.count("connector.segments_live", cut.size)
      val q = r.tracer.span("streaming.query") {
        val q = StreamOps.windowAggStream(r.spark, store, scope, stream, out, ckpt)
        q.awaitTermination()
        q
      }
      val ps = q.recentProgress
      ps.lastOption.flatMap(p => Option(p.eventTime.get("watermark")))
        .foreach(w => watermarkMs = java.time.Instant.parse(w).toEpochMilli)
      val rows = ps.map(_.numInputRows).sum
      consumedRows += rows
      rows
    }

    /** Closed windows equal the generator's tally, and a bounded read
      * holds every appended event exactly once. */
    def verify(what: String): Unit = {
      val expected = Gen.windowTally((0 until ticks).flatMap(Gen.events(r.seed, id, _, shape)))
        .filter { case ((start, _), _) => (start + 300) * 1000 <= watermarkMs }
      r.check(s"$what closed windows") {
        val emitted = Files.exists(java.nio.file.Paths.get(out)) &&
          Files.list(java.nio.file.Paths.get(out)).iterator().asScala
            .exists(_.getFileName.toString.startsWith("part-"))
        val got = if (!emitted) Map.empty else r.spark.read.json(out).collect().map(x =>
          (x.getAs[Long]("win_start"), x.getAs[String]("event_type")) ->
            ((x.getAs[Long]("n"), x.getAs[Long]("sum_value")))).toMap
        System.err.println(
          s"[perfbench] $what: ${got.size} closed windows emitted, ${expected.size} expected")
        got == expected
      }
      r.check(s"$what bounded read") {
        val row = store.readBounded(r.spark, scope, stream, StreamOps.eventSchema)
          .agg(count(lit(1)), countDistinct(col("event_id")), min("event_id"),
            max("event_id")).head()
        val n = ticks.toLong * shape.perTick
        row.getLong(0) == n && row.getLong(1) == n && row.getLong(2) == 0L &&
          row.getLong(3) == n - 1
      }
    }
  }

  def setup(r: Run): Unit = {
    val s = new Stream(r, 0)
    (0 until 10).foreach(_ => r.attempt("log_stream append (warm-up)")(s.append(s.batch())))
    r.attempt("log_stream consume (warm-up)")(s.consume("consume"))
    s.verify("log_stream warm-up")
  }

  def measure(r: Run, deadline: Long): Unit = {
    val s = new Stream(r, 1)
    val t0 = System.nanoTime()
    val tickEnd = t0 + ((deadline - t0) * 0.65).toLong
    val nTicks = ((tickEnd - t0) / (periodMs * 1000000L)).toInt
    val sched = Array.tabulate(nTicks)(k => t0 + k * periodMs * 1000000L)
    val appendSec = new java.util.concurrent.ConcurrentLinkedQueue[Double]
    val late = new java.util.concurrent.ConcurrentLinkedQueue[Double]
    val done = new java.util.concurrent.atomic.AtomicInteger
    @volatile var producerError: Throwable = null
    val producer = new Thread(() => {
      try (0 until nTicks).foreach { k =>
        // the batch is generated before it is due, so neither the append
        // time nor the result latency includes generating it
        val df = s.batch()
        val wait = sched(k) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        late.add((System.nanoTime() - sched(k)) / 1e9)
        appendSec.add(s.append(df))
        done.incrementAndGet()
      } catch { case e: Throwable => producerError = e }
    }, "perfbench-producer")
    producer.start()
    var covered = 0
    var inv = 0
    try {
      // a consumer that stops making progress ends the loop after a grace
      val giveUp = deadline + 20000000000L
      while (covered < nTicks && producerError == null && System.nanoTime() < giveUp) {
        if (done.get * shape.perTick.toLong <= s.consumedRows) Thread.sleep(5)
        else {
          val traced = r.traced && inv % 2 == 0
          r.tracer.setOn(traced)
          r.attempt("log_stream consume")(s.consume("consume"))
          val end = System.nanoTime()
          val nowCovered = (s.consumedRows / shape.perTick).toInt
          (covered until nowCovered).foreach { b =>
            r.ops += (((end - sched(b)) / 1e9, traced))
          }
          covered = nowCovered
          inv += 1
        }
      }
    } finally producer.join()
    Option(producerError).foreach(e => r.fail("log_stream producer", e))
    r.attempted += nTicks
    // drains: a fixed backlog appended in one call, consumed in one run
    (0 until drains).foreach { d =>
      r.tracer.setOn(r.traced && d % 2 == 0)
      r.attempt("log_stream backlog append")(s.append(s.batch(drainTicks), drainTicks))
      val a = System.nanoTime()
      r.attempt("log_stream drain")(s.consume("drain")).foreach { rows =>
        val wall = (System.nanoTime() - a) / 1e9
        if (rows != drainTicks.toLong * shape.perTick)
          r.fail(s"log_stream drain read $rows rows")
        else r.passes += wall
      }
    }
    r.tracer.setOn(false)
    s.verify("log_stream")
    val ap = appendSec.asScala.toSeq
    r.layer("connector.append_p50_s") = if (ap.isEmpty) 0.0 else Stats.median(ap)
    r.layer("gen.late_s") = late.asScala.maxOption.getOrElse(0.0)
    r.layer("streaming.drain_eps") =
      if (r.passes.isEmpty) 0.0 else drainTicks * shape.perTick / Stats.median(r.passes.toSeq)
    val files = Files.list(java.nio.file.Paths.get(s.store.path(scope, s.stream)))
      .iterator().asScala.filter(_.getFileName.toString.startsWith("segment-")).toSeq
    r.layer("connector.segments_written") = files.size.toDouble / s.appends
    r.layer("connector.bytes_per_event") =
      files.map(Files.size(_)).sum.toDouble / (s.ticks.toLong * shape.perTick)
  }
}

/** The reference workflow on one persistent workdir: each cycle writes
  * seeded iris-shaped CSVs, builds the four jobs and runs them; model
  * versions accumulate in the registry. */
object TrainPredict extends Workload {
  val name = "train_predict"
  val roots = Set("cycle")
  val trainRows = 1600
  val testRows = 400
  val model = "iris_knn"

  private val trainSets = mutable.Map.empty[Int, IndexedSeq[Gen.Iris]]
  private var cycles = 0
  private var deployed = 0
  private var predictions = Seq.empty[Float]

  /** Job started by each workflow event, for the workflow.* spans. */
  private val trigger = Map(
    (Events.JobFinished, "datagen") -> "workflow.train",
    (Events.ModelGenerated, model) -> "workflow.validate",
    (Events.ModelValidated, model) -> "workflow.predict")

  /** One cycle: write its inputs, run the workflow (the op), look up the
    * registry, check the outputs. */
  private def cycle(r: Run, timed: Boolean): Unit = {
    val c = cycles
    val p0 = System.nanoTime()
    val train = Gen.iris(r.seed, c, 0, trainRows)
    val test = Gen.iris(r.seed, c, 1, testRows)
    val in = r.tmp.resolve(s"wf-in/$c")
    Files.createDirectories(in)
    Files.writeString(in.resolve("train.csv"), Gen.irisCsv(train), UTF_8)
    Files.writeString(in.resolve("test.csv"), Gen.irisCsv(test), UTF_8)
    val cfg = BatchTrainPredict.Config(in.resolve("train.csv").toString,
      in.resolve("test.csv").toString, r.dir("wf"), modelName = model)
    val t0 = System.nanoTime()
    val ran = r.attempt(s"train_predict cycle $c") {
      val wf = new Workflow(r.spark, r.dir("wf"))
      val seen = mutable.ArrayBuffer.empty[(Long, String)]
      if (r.tracer.isOn) trigger.keys.map(_._1).toSeq.distinct.foreach { ev =>
        wf.bus.subscribe(ev)(p => seen += (r.tracer.now() -> trigger.getOrElse((ev, p), "")))
      }
      r.tracer.op("cycle") {
        BatchTrainPredict.build(wf, cfg)
        val start = r.tracer.now()
        wf.run(Seq("datagen"))
        val end = r.tracer.now()
        // job j runs from the event that triggers it to the next event
        val marks = ((start, "workflow.datagen") +: seen.toSeq) :+ ((end, ""))
        marks.sliding(2).foreach {
          case Seq((a, job), (b, _)) if job.nonEmpty => r.tracer.record(job, a, b)
          case _ =>
        }
      }
      wf
    }
    val wall = (System.nanoTime() - t0) / 1e9
    cycles += 1
    trainSets(cycles) = train
    ran.foreach { wf =>
      val l0 = System.nanoTime()
      val versions = wf.registry.modelVersions(model)
      val dep = wf.registry.getDeployedModelVersion(model)
      val lookup = (System.nanoTime() - l0) / 1e9
      if (timed) {
        r.ops += ((wall, r.tracer.isOn))
        r.passes += (System.nanoTime() - p0) / 1e9
        if (r.tracer.isOn) r.tracer.count("registry.lookup_s", lookup)
      }
      verify(r, c, versions.size, dep.map(_.version).getOrElse(0), test)
    }
  }

  /** Registry and predictions against a brute-force k=5 KNN. */
  private def verify(r: Run, c: Int, versions: Int, dep: Int,
      test: IndexedSeq[Gen.Iris]): Unit = {
    def correct(v: Int) = test.count(q => Gen.knnPredict(trainSets(v), q.x, 5) == q.label)
    // champion-challenger: the new version is deployed when it scores at
    // least as well as the deployed one on this cycle's test set
    val expectDep =
      if (deployed == 0 || correct(cycles) >= correct(deployed)) cycles else deployed
    r.check(s"train_predict cycle $c registry") {
      versions == cycles && dep == expectDep
    }
    // predict runs only when the new version is validated; otherwise the
    // previous cycle's predictions stay in place
    if (dep == cycles)
      predictions = test.map(q => Gen.knnPredict(trainSets(dep), q.x, 5).toFloat).sorted
    deployed = dep
    r.check(s"train_predict cycle $c predictions") {
      val dir = java.nio.file.Paths.get(r.dir("wf"), "predict_result")
      val got = Files.list(dir).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .flatMap(f => Files.readAllLines(f).asScala).filter(_.nonEmpty)
        .map(_.toFloat).toSeq.sorted
      got == predictions
    }
  }

  def setup(r: Run): Unit = (0 until 2).foreach(_ => cycle(r, timed = false))

  def measure(r: Run, deadline: Long): Unit = {
    var i = 0
    while (System.nanoTime() < deadline) {
      r.tracer.setOn(r.traced && i % 2 == 0)
      cycle(r, timed = true)
      i += 1
    }
    r.tracer.setOn(false)
    val reg = java.nio.file.Paths.get(r.dir("wf"), "registry.json")
    r.layer("registry.versions") = cycles.toDouble
    r.layer("registry.state_bytes") = Files.size(reg).toDouble
  }
}
