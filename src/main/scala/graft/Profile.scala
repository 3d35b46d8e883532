package graft

import graft.ops.{JobCounter, JobCounts}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** Per-key profiler. Runs each query key named on the command line the
  * way Bench times it — per-key conf policy, a noop-sink write, then a
  * cache drop — and prints its wall time, its Spark job/stage/task
  * counts, a per-job histogram keyed by short call site (which
  * attributes the eager `Work.materialize` builds inside a query
  * function to their source lines), and the formatted AQE-final plan of
  * every execution the key fired, in order: each eager build's under
  * `===BUILD PLAN k i/n===`, then the timed write's between
  * `===PLAN BEGIN k===` / `===PLAN END k===` markers. A key listed
  * twice runs twice.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sf dir> \
  *   sbt -batch "runMain graft.Profile q1_agg dedup_clusters"
  */
object Profile {

  /** `plans`: every execution's plan in finishing order; the last is
    * the timed write's. */
  final case class Result(key: String, sec: Double, counts: JobCounts,
      sites: Map[String, Int], plans: Seq[String]) {
    def report: String = {
      val hist = sites.toSeq.sortBy { case (s, n) => (-n, s) }
        .map { case (s, n) => f"[profile]   $n%4d  $s" }
      val head = f"[profile] $key%-28s $sec%8.2f s  jobs=${counts.jobs} " +
        s"stages=${counts.stages} tasks=${counts.tasks}"
      val builds = plans.dropRight(1).zipWithIndex.flatMap { case (p, i) =>
        Seq(s"===BUILD PLAN $key ${i + 1}/${plans.size}===", p)
      }
      (head +: hist ++: builds :+ s"===PLAN BEGIN $key===" :+
        plans.lastOption.getOrElse("(no plan)") :+
        s"===PLAN END $key===").mkString("\n")
    }
  }

  def run(spark: SparkSession, sfDir: String, counter: JobCounter,
      key: String): Result = {
    val fn = SparkEntry.queries.getOrElse(key,
      throw new IllegalArgumentException(s"unknown query key: $key"))
    // the last execution to finish is the timed write itself
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        execs.add(qe): Unit
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    GraftSession.applyQueryConfPolicy(spark)
    // the snapshot drains the listener bus BEFORE the listener joins, so
    // no earlier action's end event is taken for this key's
    val (c0, s0) = (counter.snapshot(), counter.callSites())
    spark.listenerManager.register(l)
    try {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      GraftSession.dropAllCaches(spark)
      val (c, s) = (counter.snapshot() - c0, counter.callSites())
      val sites = s.map { case (k, n) => k -> (n - s0.getOrElse(k, 0)) }
        .filter(_._2 > 0)
      // counter.snapshot() drained the listener bus: execs is complete
      Result(key, sec, c, sites, execs.asScala.toSeq
        .map(_.explainString(FormattedMode)))
    } finally spark.listenerManager.unregister(l)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a scale-factor table directory"))
    val spark = GraftSession.get(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    GraftSession.muteBenignGlobalWindowWarn()
    val counter = JobCounter.install(spark)
    args.foreach(k => println(run(spark, sfDir, counter, k).report))
    spark.stop()
  }
}
