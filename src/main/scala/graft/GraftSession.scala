package graft

import org.apache.spark.sql.SparkSession

/** One place for the session configuration every graft entry point
  * needs: UTC timestamps (oracle comparability), AQE on (runtime
  * re-planning / skew handling), nanos-as-long (legacy testdata stored
  * events.ts as TIMESTAMP(NANOS), which Spark 4 has no timestamp type
  * for and reads as long; current testdata is timestamp[us] and
  * Tables.normalize re-derives the canonical long-nanos column), shuffle
  * partitions sized to the core count (local mode; a cluster deployment
  * sets `spark.sql.shuffle.partitions` to ~2-3× total cores and lets
  * AQE coalesce), and [[GraftExtensions]] — graft's SQL functions and
  * both whole-plan rewrites, wired the way a cluster's
  * `spark.sql.extensions=graft.GraftExtensions` wires them.
  */
object GraftSession {

  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // Spark's default, pinned: AQE keeps >= defaultParallelism
      // partitions when coalescing. false coalesces tiny shuffles by
      // size (fewer tasks for a local bench's small intermediate
      // shuffles; Spark's own docs recommend false for production) —
      // a deployment overrides it like any session conf
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The default whole-stage-codegen class cache holds 100 entries —
      // a 113-query interleaved bench pass thrashes it, so every run of
      // every key RE-COMPILES its generated code (~0.3-2 s/key, measured
      // uniform inflation when the r8 bench went pass-interleaved).
      // Sized for the whole suite's stages; class metadata is a few MB,
      // noise against the JVM heap. A production session with a bounded
      // query set wants the same.
      .config("spark.sql.codegen.cache.maxEntries", "4000")

  /** Silence the benign `WindowExec: No Partition Defined` warning in
    * HARNESS mains only (Bench/Verify/Profile — r15 verdict
    * #7). The suite's four unpartitioned windows are all value-domain-
    * or k-bounded by construction (Quality KS cumulative, Dedup span
    * windows, Embeddings quantile frame, Corpus tercile cumulative —
    * each documented at its site and pinned in PlanSpec), so the
    * warning fires 100+ times per gate run on frames of a few hundred
    * rows and buries the log tail a REAL corpus-sized unpartitioned
    * window would need to surface in. Deliberately NOT called from
    * [[get]]: a user session keeps Spark's warning; the harness's
    * regression guard is PlanSpec's bounded-window pins, not the log.
    * Package-level (log4j2 hierarchy) because Spark's Logging trait
    * names loggers by concrete class. */
  def muteBenignGlobalWindowWarn(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)

  /** Build (or reuse) the session. Rules are always on (SOAK_r14's
    * paired A/B adjudicated the rules-on posture safe — geomean ratio
    * 0.96, no key loses beyond noise, 197/197 oracle-green); the kill
    * switch is Spark's own spark.sql.optimizer.excludedRules=
    * graft.plans.TopKRewrite,graft.plans.RangeJoinRewrite. */
  def get(cores: Int): SparkSession = {
    val s = requireWired(builder(cores).getOrCreate())
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `getOrCreate` applies no extensions to a session that already
    * exists, so a session built elsewhere would come back with no graft
    * functions and no rewrites: fail instead of running other plans. */
  private[graft] def requireWired(s: SparkSession): SparkSession = {
    if (!s.catalog.functionExists("cosine_sim"))
      throw new IllegalStateException(
        "the active Spark session was built without graft's functions " +
          "and rewrites; build it with spark.sql.extensions=" +
          "graft.GraftExtensions (GraftSession.builder does)")
    s
  }

  /** Per-key conf policy for the harness mains (Bench/Verify/Profile and
    * the benchmark): every key runs with both whole-plan rewrites ON
    * and the automatic range-join bin, so a key that forces a bin width
    * or excludes a rule cannot change the plans later keys measure —
    * medians must measure one plan per key, and a subset run must
    * measure the same plan as the full suite (the round-11 conf-leak
    * finding). A normal user session keeps both as ordinary confs.
    */
  def applyQueryConfPolicy(s: SparkSession): Unit = {
    s.conf.unset(plans.RangeJoinRewrite.BinConf)
    s.conf.unset(
      org.apache.spark.sql.internal.SQLConf.OPTIMIZER_EXCLUDED_RULES.key)
  }

  /** Drop everything any query cached and didn't free — SQL cache and
    * persistent RDDs (incl. localCheckpoint blocks). Multi-query
    * sessions (Bench/Verify, GrowthSpec) call this between queries so
    * leaked blocks cannot accumulate GC pressure across the session
    * (the round-3 bench tail inflated up to 30× from exactly that).
    */
  def dropAllCaches(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}
