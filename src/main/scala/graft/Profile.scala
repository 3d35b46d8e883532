package graft

import graft.ops.{JobCounter, JobCounts}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-key profiler. Runs each query key named on the command line the
  * way Bench times it — per-key conf policy, a noop-sink write, then a
  * cache drop — and prints its wall time, its Spark job/stage/task
  * counts, a per-job histogram keyed by short call site (which
  * attributes the eager `Work.materialize` builds inside a query
  * function to their source lines), and the formatted AQE-final plan of
  * the timed write between `===PLAN BEGIN k===` / `===PLAN END k===`
  * markers. A key listed twice runs twice.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sf dir> \
  *   sbt -batch "runMain graft.Profile q1_agg dedup_clusters"
  */
object Profile {

  final case class Result(key: String, sec: Double, counts: JobCounts,
      sites: Map[String, Int], plan: String) {
    def report: String = {
      val hist = sites.toSeq.sortBy { case (s, n) => (-n, s) }
        .map { case (s, n) => f"[profile]   $n%4d  $s" }
      val head = f"[profile] $key%-28s $sec%8.2f s  jobs=${counts.jobs} " +
        s"stages=${counts.stages} tasks=${counts.tasks}"
      (head +: hist :+ s"===PLAN BEGIN $key===" :+ plan :+
        s"===PLAN END $key===").mkString("\n")
    }
  }

  def run(spark: SparkSession, sfDir: String, counter: JobCounter,
      key: String): Result = {
    val fn = SparkEntry.queries.getOrElse(key,
      throw new IllegalArgumentException(s"unknown query key: $key"))
    // the last execution to finish is the timed write itself
    @volatile var last: Option[QueryExecution] = None
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        last = Some(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      GraftSession.applyQueryConfPolicy(spark)
      val (c0, s0) = (counter.snapshot(), counter.callSites())
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      GraftSession.dropAllCaches(spark)
      val (c, s) = (counter.snapshot() - c0, counter.callSites())
      val sites = s.map { case (k, n) => k -> (n - s0.getOrElse(k, 0)) }
        .filter(_._2 > 0)
      Result(key, sec, c, sites,
        last.fold("(no plan)")(_.explainString(FormattedMode)))
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
