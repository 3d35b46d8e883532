package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Loaders for the driver's synthetic parquet tables (TESTDATA.md).
  * All engine queries take `sfDir` and read only these inputs.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Memoized per (session, dir, name): every spark.read.parquet builds a
  // fresh InMemoryFileIndex + reads footers for schema inference — a
  // fixed-cost Spark job per call that a 112-query Bench/Verify session
  // pays hundreds of times (the sub-second queries are dominated by it).
  // The testdata tables are immutable, so reusing the resolved relation
  // is safe; keyed by session so parallel test sessions don't cross.
  // Stopped sessions are evicted on access (SessionCaches) so restarts
  // don't accumulate dead plans for the JVM's life.
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    SessionCaches.evictStopped(cache)(_._1)
    cache.computeIfAbsent((spark, sfDir, name),
      _ => normalize(name, spark.read.parquet(s"$sfDir/$name.parquet")))
  }

  /** The engine's canonical `events.ts` representation is LONG epoch-nanos:
    * the original testdata stored parquet TIMESTAMP(NANOS), which Spark 4
    * has no timestamp type for and reads as long, and every consumer
    * (`ts div 1000` → micros) and DuckDB oracle (`epoch_us(ts)` /
    * `epoch_ns(ts)`) was built on that pairing. Regenerated testdata
    * (round 8+) stores `timestamp[us]` instead — Spark reads TIMESTAMP_NTZ
    * — so re-derive nanos here, the one place the parquet and the engine
    * meet. The session timezone is pinned UTC (GraftSession), so the
    * NTZ→LTZ cast is wall-clock exact; micros × 1000 restores the nanos
    * unit (low three digits zero, which DuckDB's micros-truncating read
    * never saw anyway). Note for the 100 TB path: a predicate on `ts`
    * should be phrased against the native timestamp column BEFORE this
    * projection to keep parquet min/max pushdown; none of the engine's
    * events queries filter on raw ts today.
    */
  /** Spread a small-split scan across the session's cores before
    * per-row-HEAVY map work (tokenize/explode/codec/score). A real
    * table at cluster scale has ≥ cores splits and this is the
    * IDENTITY (no exchange added); the bench's single-file parquet
    * scans plan as 1 input partition, which pins every pre-shuffle
    * map stage — where corpus operators do most of their work — to
    * one core of 32 (measured: bm25_topk's whole tokenize+score ran
    * as 1 task). One round-robin exchange of the raw rows is far
    * cheaper than 31 idle cores. Only worth it where per-row work
    * dominates; cheap-scan operators keep their unspread plans (and
    * their pushdown/exchange-count pins). */
  def spread(df: DataFrame): DataFrame = {
    // streaming frames can't answer .rdd (and micro-batch sources
    // split on their own) — pass through so batch helpers stay safe
    // to reuse in streaming twins
    if (df.isStreaming) return df
    val want = df.sparkSession.sparkContext.defaultParallelism
    // Scan-split estimate from the analyzed plan's cached file
    // listings — a driver-side map read. The old probe (`df.rdd`)
    // planned the DISCARDED unspread physical tree on every query
    // build just to read its partition count (r12 verdict); it remains
    // only as the fallback when a leaf isn't a file scan. The
    // leaf-based estimate is also the truer signal: spread gates on
    // SCAN parallelism (the pre-shuffle map stages it exists to
    // widen), not whatever partitioning the tree ends in.
    val parts = estimateScanPartitions(df)
      .getOrElse(df.rdd.getNumPartitions.toLong)
    if (parts * 2 >= want) df else df.repartition(want)
  }

  /** Estimated total file-scan partition count across the plan's
    * leaves, by Spark's own FilePartition math (`maxSplitBytes`,
    * `splitFiles`, then size-descending `getFilePartitions` packing,
    * exactly as `FileSourceScanExec` plans it) over the relations'
    * driver-cached file listings — no physical planning, no job. None
    * when any leaf is not a file-based relation (caller falls back to
    * `.rdd`). At cluster scale a real table lists ≥ cores splits here,
    * so [[spread]] is the identity — pinned in GuardSpec against a
    * multi-file rewrite of the testdata and against the planned scan. */
  private[graft] def estimateScanPartitions(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.execution.PartitionedFileUtil
    import org.apache.spark.sql.execution.datasources.{
      FilePartition, HadoopFsRelation, LogicalRelation}
    val sess = df.sparkSession
    val perLeaf = df.queryExecution.analyzed.collectLeaves().map {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        // two shapes where the whole-listing estimate would LIE and
        // the .rdd fallback must decide (r13 review): (a) a hive-
        // partitioned relation — partition pruning can cut the real
        // scan to a fraction of the listing, and an over-estimate
        // here silently SKIPS a spread the pruned scan needed;
        // (b) a non-splittable format (csv/json may be gzipped)
        if (fs.partitionSchema.nonEmpty) return None
        val fmt = fs.fileFormat.getClass.getSimpleName.toLowerCase
        if (!fmt.contains("parquet") && !fmt.contains("orc")) return None
        val dirs = fs.location.listFiles(Nil, Nil)
        val maxSplit = FilePartition.maxSplitBytes(sess, dirs)
        val splits = dirs.flatMap(d => d.files.flatMap(f =>
          PartitionedFileUtil.splitFiles(f, f.getPath,
            fs.fileFormat.isSplitable(sess, fs.options, f.getPath),
            maxSplit, d.values))).sortBy(-_.length)
        FilePartition.getFilePartitions(sess, splits, maxSplit).size.toLong
      case _ => return None
    }
    Some(perLeaf.sum)
  }

  private def normalize(name: String, df: DataFrame): DataFrame =
    if (name != "events" || df.schema("ts").dataType == LongType) df
    else df.withColumn(
      "ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
}
