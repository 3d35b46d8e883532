package graft.ml

import graft.{QueryDef, Tables, Work}
import graft.functions.TopK
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** K-nearest-neighbors classifier — the reference's ML core
  * (KNeighborsClassifier k=5, reference processor.py:128-129; UDF serving
  * processor.py:228-258). Design per SURVEY.md §7.3: the model IS the
  * reference set (lazy learner); prediction is top-k by L2 + majority
  * vote, with two faces:
  *
  *  - [[predictBroadcastUdf]]: the parity path for small reference sets —
  *    the reference's `mypred(sl,sw,pl,pw)` scalar UDF re-expressed as a
  *    JVM-native UDF over a broadcast reference array (no out-of-process
  *    row-at-a-time boundary, the reference's main perf sink).
  *  - [[predictDistributed]]: the scale path — broadcast join + window
  *    top-k; every step declarative so Catalyst plans it. At 100 TB the
  *    reference set side would be pivot-pruned (REPOSE-style, PAPERS.md)
  *    and the window replaced by a bounded-heap aggregate; the query
  *    side streams through executors unchanged.
  *
  * Both faces share exact tie-break semantics so they hash-match one
  * oracle: neighbors ranked by (dist, rid), votes by (count desc, label
  * asc). All distance math in DOUBLE, sequential accumulation order.
  */
object Knn {

  /** Squared L2 distance between two array<double> columns — native
    * fused-loop Catalyst expression (graft.functions.L2Squared), same
    * sequential accumulation as the zip_with/aggregate form. sqrt
    * omitted: monotone, ranking-equivalent. */
  def sqDist(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.l2Sq(a, b)

  /** The declarative composed form (kept for the equivalence test). */
  def sqDistDeclarative(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)

  /** Distributed predict: queries (qid, qvec) × refs (rid, rvec, label)
    * → (qid, pred_label). Top-k per query via the bounded-heap aggregate
    * (graft.functions.TopKSmallest): partial aggregation keeps at most
    * k neighbors per (qid, partition) map-side, so the only shuffle
    * carries O(|Q|·k) entries — not the |Q|×|R| scored rows the
    * window full-sort form shuffles (kept as
    * [[predictDistributedWindow]]; bit-equality asserted in tests).
    *
    * The reference side is broadcast only while it fits
    * (spark.graft.knn.maxBroadcastRows, default 2M rows — vector width
    * is application-known, so the cap is row-based); past the cap the
    * EXACT path degrades to the block-nested shuffle join
    * ([[predictShuffled]]) instead of OOMing the executors on an
    * oversized broadcast.
    */
  def predictDistributed(queries: DataFrame, refs: DataFrame, k: Int): DataFrame =
    voteTopK(scoredPairs(queries, refs), k)

  /** Scored pairs (qid, rid, label, carry…, dist) over queries × refs —
    * the broadcast-or-shuffle choice [[predictDistributed]] and
    * [[accuracies]] share. `carry` names extra query- or reference-side
    * columns passed through to the vote. */
  private def scoredPairs(queries: DataFrame, refs: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val maxBc = queries.sparkSession.conf
      .getOption("spark.graft.knn.maxBroadcastRows")
      .map(_.toLong).getOrElse(2000000L)
    // strategy pick, cheapest evidence first: Catalyst's own stats are
    // driver-side and free. When CBO knows rowCount it is the SOLE
    // verdict — exact on both sides of the cap (a known-large set must
    // not fall through to a size estimate that could talk it back under
    // the cap; round-7 advice). Without rowCount, sizeInBytes is the
    // evidence — but for a parquet scan that is the COMPRESSED file
    // size, and dictionary/RLE-encoded repetitive vectors can compress
    // below 8 bytes/row, so the 8-bytes/row floor only bounds rows
    // after a conservative 8x decompression allowance: an estimate
    // within the cap even at 8x compression broadcasts without paying
    // a probe job. Only an estimated-large set runs the probe, and
    // limit(cap+1) short-circuits that count once the cap is exceeded
    // instead of scanning the whole reference set.
    val stats = refs.queryExecution.optimizedPlan.stats
    val overCap = stats.rowCount match {
      case Some(n) => n > maxBc
      case None =>
        if (stats.sizeInBytes <= maxBc) false // = 8x-compressed 8B rows
        else {
          val capProbe = math.min(maxBc, Int.MaxValue - 1L).toInt
          refs.limit(capProbe + 1).count() > maxBc
        }
    }
    if (overCap) shuffledPairs(queries, refs, 0, carry)
    else queries.crossJoin(broadcast(refs))
      .select((Seq("qid", "rid", "label") ++ carry).map(col) :+
        sqDist(col("qvec"), col("rvec")).as("dist"): _*)
  }

  /** EXACT non-broadcast predict — the block-nested join as a shuffle:
    * refs hash into `blocks` disjoint blocks (one shuffle, each ref
    * lands once), queries replicate across the block ids, and the
    * equi-join on the block id runs as a shuffled hash join — no
    * broadcast of either side, so reference sets far past executor
    * memory stream through. Scoring is the same fused L2 expression
    * and the vote shuffle still carries only O(|Q|·blocks·k) heap
    * entries thanks to partial aggregation. Bit-identical to the
    * broadcast path (asserted in KnnSpec): the block partition covers
    * every (query, ref) pair exactly once.
    */
  def predictShuffled(queries: DataFrame, refs: DataFrame, k: Int,
      blocks: Int = 0): DataFrame =
    voteTopK(shuffledPairs(queries, refs, blocks, Nil), k)

  private def shuffledPairs(queries: DataFrame, refs: DataFrame,
      blocks: Int, carry: Seq[String]): DataFrame = {
    val spark = queries.sparkSession
    val b = if (blocks > 0) blocks
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val refB = refs.withColumn("blk", pmod(hash(col("rid")), lit(b)))
    val qCarry = carry.filter(queries.columns.contains)
    val qB = queries.select((Seq("qid", "qvec") ++ qCarry).map(col) :+
      explode(array((0 until b).map(lit(_)): _*)).as("blk"): _*)
    qB.join(refB.hint("shuffle_hash"), "blk")
      .select((Seq("qid", "rid", "label") ++ carry).map(col) :+
        sqDist(col("qvec"), col("rvec")).as("dist"): _*)
  }

  /** Shared vote stage: scored (qid, rid, label, dist) → (qid,
    * pred_label) via bounded-heap top-k + majority vote, ties
    * (count desc, label asc). The vote happens INSIDE the aggregated
    * row: the heap already delivered the k neighbor labels as one
    * array, so electing the majority is an O(k²) array expression per
    * query — the former explode → re-groupBy → window form paid two
    * extra shuffles and a per-query sort to recount an array this
    * stage already held whole. One shuffle total (the top-k partial
    * aggregation), at any scale. */
  private def voteTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy("qid")
      .agg(TopK.smallestK(col("dist"), col("rid"), col("label"), k).as("nbrs"))
      .select(col("qid"), majority(col("nbrs.label")).as("pred_label"))

  /** Majority label of an array of neighbor labels, ties (count desc,
    * label asc): max over (count, -label) structs. */
  private def majority(labels: Column): Column =
    -array_max(transform(array_distinct(labels),
      l => struct(
        size(filter(labels, x => x === l)).as("c"),
        (-l).as("nl"))))
      .getField("nl")

  /** Accuracy of each (reference set, k) model on one query set
    * (qid, qvec, true_label), in ONE Spark execution: the models'
    * reference rows, tagged with the model index, form one reference
    * side ([[predictDistributed]]'s route) scanned against one scan of
    * the queries; each (model, qid) heap of max(k) neighbors is sliced
    * to the model's own k before the vote, so every model is scored
    * on exactly its own top-k. The truth label rides in the vote
    * group, so qid need only be unique within this execution (a
    * monotonically_increasing_id is). A model with no scored rows
    * scores 0.0.
    */
  def accuracies(queries: DataFrame, models: Seq[(DataFrame, Int)]): Seq[Double] = {
    require(models.nonEmpty, "accuracies needs at least one model")
    val refs = models.zipWithIndex.map { case ((r, _), m) =>
      r.select(lit(m).as("model"), col("rid"), col("rvec"), col("label"))
    }.reduce(_ union _)
    val ks = models.map(_._2)
    val kOf = element_at(array(ks.map(lit(_)): _*), col("model") + 1)
    val counts = scoredPairs(queries, refs, Seq("model", "true_label"))
      .groupBy("model", "qid", "true_label")
      .agg(TopK.smallestK(col("dist"), col("rid"), col("label"), ks.max)
        .as("nbrs"))
      .groupBy("model")
      .agg(
        count(when(majority(slice(col("nbrs.label"), lit(1), kOf)) ===
          col("true_label"), true)).as("c"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    models.indices.map(m =>
      counts.get(m).fold(0.0) { case (c, n) => c.toDouble / n })
  }

  /** Pivot-pruned EXACT predict (REPOSE-style reference-point pruning,
    * SURVEY.md §7.3): the 100 TB form of the brute-force crossJoin.
    *
    *  0. Decide (round-11 punch #6): metric pruning only pays when the
    *     pivot bound has CONTRAST — on distance-concentrated data
    *     (quasi-uniform high-dim embeddings) every pair survives the
    *     filter and the O(P)-per-pair probe is pure overhead. One
    *     bounded driver-side sample of (reference, query) pivot
    *     distances estimates the filter's selectivity; past
    *     [[BypassSelectivity]] the call returns the UNPRUNED exact plan
    *     (identical results — both paths are exact; only the plan
    *     changes).
    *  1. Estimate (round-11 punch #6 rewrite): the upper bound d̂_k on
    *     each query's true kth distance comes from the pivots
    *     themselves — for any pivot p, the k references closest to p
    *     satisfy |q−r| ≤ |q−p| + |r−p| ≤ |q−p| + kth_p(|r−p|), so
    *     d_k(q) ≤ min_p (|q−p| + kth_p). kth_p is QUERY-INDEPENDENT:
    *     one P-row aggregate over the reference side, collected as P
    *     doubles (bounded driver pull, pivot-sized), and d̂_k becomes a
    *     map-only expression over the query's own pivot distances. The
    *     former sample estimate paid an extra |Q|×|R|/4 full-dimension
    *     crossJoin — 25% of brute force before pruning even started,
    *     and measured 4 extra Spark jobs of fixed overhead at bench SF.
    *  2. Prune: with P broadcast pivots, the triangle inequality gives
    *     the lower bound LB(q,r) = max_p | |q-p| - |r-p| | ≤ |q-r|;
    *     any reference with LB² > d̂²_k cannot be in the true top-k and
    *     is dropped BEFORE the expensive full-dimension distance.
    *  3. Exact top-k + vote over the survivors.
    *
    * Survivors always contain the true top-k (LB ≤ true distance and
    * d̂_k ≥ true kth distance — step 1's bound holds for every pivot,
    * hence for the min), so the result is bit-identical to
    * [[predictDistributed]] — asserted in tests, including against a
    * references side SMALLER than k (kth_p undefined → pruning
    * disabled via an infinite bound). The pivot distances are
    * P-element arrays, so the pruning predicate costs O(P) per pair
    * instead of O(dim), and the filter sits inside codegen before the
    * fused distance expression. P is a tightness-vs-probe-cost dial
    * (each pair pays O(P); each extra pivot tightens d̂_k and LB):
    * 8 suits dim 64 — past ~dim/4 the probe stops being cheaper than
    * the distance it avoids.
    */
  /** Bounded driver-side samples for the adaptive prune decision. */
  private val RefSampleRows = 2048
  private val QuerySampleRows = 64

  /** Estimated LB-filter selectivity above which pruning is BYPASSED:
    * when the pivot bound keeps most pairs, the O(P)-per-pair probe is
    * pure overhead on top of the brute-force distances it fails to
    * avoid, so the unpruned exact plan is strictly better. Measured on
    * the sf0.1 embeddings (quasi-uniform 64-d, distance concentration):
    * survivor fraction 0.96 — NO metric bound can prune that
    * distribution, and the 16× stress row ran 3× slower than plain
    * broadcast KNN before this bypass existed. */
  private val BypassSelectivity = 0.5

  def predictDistributedPruned(queries: DataFrame, refs: DataFrame,
      k: Int, nPivots: Int = 8): DataFrame = {
    val spark = queries.sparkSession
    // ONE bounded collect serves pivot selection, the sample-kth, and
    // the selectivity probe (deterministic: rid order)
    val refSample: Array[Array[Double]] = refs.orderBy("rid")
      .limit(RefSampleRows).select("rvec").collect()
      .map(_.getSeq[Double](0).toArray)
    if (refSample.isEmpty) return predictDistributed(queries, refs, k)
    val pivots = refSample.take(nPivots)
    def pdist(v: Array[Double]): Array[Double] = pivots.map { p =>
      var s = 0.0; var i = 0
      while (i < v.length) { val d = v(i) - p(i); s += d * d; i += 1 }
      math.sqrt(s)
    }
    // kth_p over the SAMPLE is >= kth_p over the full reference set, so
    // any bound derived from it stays a valid upper bound on d_k — good
    // enough for the prune/bypass DECISION (the engaged prune path
    // recomputes kth_p exactly below, so the real filter is tighter
    // than the estimate: the estimated survivor fraction is an upper
    // bound and the decision errs toward bypass, which is always exact)
    val rpdSample = refSample.map(pdist)
    val kthSample: Array[Double] = Array.tabulate(pivots.length) { p =>
      val ds = rpdSample.map(_(p)).sorted
      if (ds.length >= k) ds(k - 1) else Double.MaxValue
    }
    // a bounded query sample probes the selectivity: plain limit (no
    // global sort over the query side — the sample only steers the
    // plan choice, never the result, which is exact on both paths)
    val qpdSample = queries.limit(QuerySampleRows).select("qvec").collect()
      .map(r0 => pdist(r0.getSeq[Double](0).toArray))
    val frac =
      if (qpdSample.isEmpty) 1.0
      else {
        var kept = 0L
        qpdSample.foreach { qp =>
          val dk = Array.tabulate(pivots.length)(p =>
            if (kthSample(p) == Double.MaxValue) Double.MaxValue
            else qp(p) + kthSample(p)).min
          rpdSample.foreach { rp =>
            var lb = 0.0
            var p = 0
            while (p < pivots.length) {
              val d = math.abs(qp(p) - rp(p)); if (d > lb) lb = d; p += 1
            }
            if (lb <= dk) kept += 1
          }
        }
        kept.toDouble / (qpdSample.length.toLong * rpdSample.length)
      }
    if (frac > BypassSelectivity)
      return predictDistributed(queries, refs, k)

    val bc = spark.sparkContext.broadcast(pivots)
    val pivotDists = udf { (v: Seq[Double]) =>
      val a = v.toArray
      bc.value.map { p =>
        var s = 0.0; var i = 0
        while (i < a.length) { val d = a(i) - p(i); s += d * d; i += 1 }
        math.sqrt(s)
      }
    }
    val q = queries.withColumn("qpd", pivotDists(col("qvec")))
    val r = refs.withColumn("rpd", pivotDists(col("rvec")))

    // 1. EXACT kth smallest |r−p| per pivot: one tiny aggregate
    // (P rows), collected pivot-sized — tighter than the sample-kth
    // used for the decision. Fewer than k references under a pivot →
    // no valid bound → that pivot contributes no d̂ term.
    val kthPerPivot: Map[Int, Double] = r
      .select(posexplode(col("rpd")).as(Seq("p", "d")))
      .groupBy("p")
      .agg(graft.functions.TopK.smallestK(
        col("d"), lit(0L), lit(0), k).as("top"))
      .select(col("p"), when(size(col("top")) >= k,
        element_at(col("top.score"), -1))
        .otherwise(lit(Double.MaxValue)).as("kth"))
      .collect().map(row => row.getInt(0) -> row.getDouble(1)).toMap
    // d̂_k(q) = min_p (qpd[p] + kth_p) — both UNsquared pivot
    // distances; squared once at the end for the lb² comparison
    val dkExpr =
      if (kthPerPivot.isEmpty) lit(Double.MaxValue)
      else least(kthPerPivot.toSeq.sortBy(_._1).map { case (p, kth) =>
        if (kth == Double.MaxValue) lit(Double.MaxValue)
        else element_at(col("qpd"), p + 1) + lit(kth)
      }: _*)
    val qWithBound = q.withColumn("dk_sq",
      when(dkExpr === Double.MaxValue, lit(Double.MaxValue))
        .otherwise(dkExpr * dkExpr))

    // 2+3. prune by triangle-inequality lower bound, then exact top-k
    val lb = array_max(zip_with(col("qpd"), col("rpd"),
      (a, b) => abs(a - b)))
    val scored = qWithBound
      .crossJoin(broadcast(r))
      .filter(lb * lb <= col("dk_sq"))
      .select(col("qid"), col("rid"), col("label"),
        sqDist(col("qvec"), col("rvec")).as("dist"))
    voteTopK(scored, k)
  }

  /** The window full-sort form (the v1 plan) — kept as the equivalence
    * witness for the bounded-heap path. */
  def predictDistributedWindow(queries: DataFrame, refs: DataFrame,
      k: Int): DataFrame = {
    val scored = queries.crossJoin(broadcast(refs))
      .select(col("qid"), col("rid"), col("label"),
        sqDist(col("qvec"), col("rvec")).as("dist"))
    val byDist = Window.partitionBy("qid")
      .orderBy(col("dist").asc, col("rid").asc)
    val votes = scored
      .withColumn("rn", row_number().over(byDist))
      .filter(col("rn") <= k)
      .groupBy("qid", "label")
      .agg(count(lit(1)).as("c"))
    val byVote = Window.partitionBy("qid")
      .orderBy(col("c").desc, col("label").asc)
    votes.withColumn("vr", row_number().over(byVote))
      .filter(col("vr") === 1)
      .select(col("qid"), col("label").as("pred_label"))
  }

  /** Reference row as shipped to executors for the UDF path. */
  final case class Ref(rid: Long, vec: Array[Double], label: Int)

  /** Broadcast-UDF predict — the reference's scalar-UDF projection
    * (`table.select("mypred(...)")`, processor.py:258) with the model
    * broadcast once per executor (reference loads it once per operator
    * open(), processor.py:233-242).
    */
  /** The scalar prediction function (the body of the reference's
    * Predict.eval, processor.py:246-250) over a broadcast reference set. */
  def predictFn(spark: SparkSession, refs: Array[Ref],
      k: Int): Seq[Double] => Int = {
    require(refs.nonEmpty,
      "KNN model has an empty reference set — nothing to predict from")
    val bc = spark.sparkContext.broadcast(refs)
    q => {
      val qa = q.toArray
      val rs = bc.value
      // bounded k-selection: O(|R|·cmp) with a size-k worst-tracked
      // array instead of a full O(|R| log |R|) sort per input row;
      // ordering (dist asc, rid asc) identical to the window form.
      // Double.compare gives a TOTAL order — NaN sorts greater than
      // every finite distance, so a NaN admitted during the fill phase
      // is identified as worst and evicted (a primitive < would leave
      // it wedged: all NaN comparisons are false), matching
      // TopKBuffer/window NaN semantics.
      val kk = math.min(k, rs.length)
      val dists = new Array[Double](kk)
      val rids = new Array[Long](kk)
      val labels = new Array[Int](kk)
      var size = 0
      var worst = 0 // index of the max (dist, rid) among the kept k
      def less(d1: Double, r1: Long, d2: Double, r2: Long): Boolean = {
        val c = java.lang.Double.compare(d1, d2)
        c < 0 || (c == 0 && r1 < r2)
      }
      var j = 0
      while (j < rs.length) {
        val r = rs(j)
        var s = 0.0
        var i = 0
        while (i < r.vec.length) {
          val d = qa(i) - r.vec(i); s += d * d; i += 1
        }
        if (size < kk) {
          dists(size) = s; rids(size) = r.rid; labels(size) = r.label
          size += 1
          if (size == kk) { // establish the worst slot
            var m = 0
            var w = 0
            while (m < kk) {
              if (less(dists(w), rids(w), dists(m), rids(m))) w = m
              m += 1
            }
            worst = w
          }
        } else if (less(s, r.rid, dists(worst), rids(worst))) {
          dists(worst) = s; rids(worst) = r.rid; labels(worst) = r.label
          var m = 0
          var w = 0
          while (m < kk) {
            if (less(dists(w), rids(w), dists(m), rids(m))) w = m
            m += 1
          }
          worst = w
        }
        j += 1
      }
      // majority vote among the kept k: (count desc, label asc)
      val counts = scala.collection.mutable.Map.empty[Int, Int]
      var m = 0
      while (m < size) {
        counts(labels(m)) = counts.getOrElse(labels(m), 0) + 1
        m += 1
      }
      counts.toSeq.map { case (lab, c) => (-c, lab) }.min._2
    }
  }

  def predictBroadcastUdf(spark: SparkSession, queries: DataFrame,
      refs: Array[Ref], k: Int): DataFrame = {
    val predict = udf(predictFn(spark, refs, k))
    queries.select(col("qid"), predict(col("qvec")).as("pred_label"))
  }

  /** Register the prediction UDF under a name — the reference's
    * register_function('mypred', …) (processor.py:253-257); callers then
    * project with expr("mypred(...)") exactly like table.select
    * (processor.py:258). */
  def registerPredictUdf(spark: SparkSession, name: String,
      refs: Array[Ref], k: Int): Unit =
    spark.udf.register(name, udf(predictFn(spark, refs, k))): Unit

  /** A saved model's reference set, as [[save]] writes it and [[load]]
    * reads it back — declared, so a load infers no schema. */
  val RefSchema: StructType = StructType(Seq(
    StructField("rid", LongType),
    StructField("rvec", ArrayType(DoubleType)),
    StructField("label", IntegerType)))

  /** Persist a trained model: reference set parquet + metadata — the
    * reference's joblib.dump + register_model_version
    * (processor.py:131-138), file-backed. The reference set is written
    * in the canonical [[RefSchema]] columns.
    */
  def save(refs: DataFrame, dir: String, k: Int): Unit = {
    Work.clean(dir)
    refs.select(RefSchema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
      .write.mode("overwrite").parquet(s"$dir/refs")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/meta.json"), s"""{"k":$k}""")
  }

  /** Load a model [[save]] wrote: (reference set, k). A missing or
    * malformed `meta.json` or a missing `refs/` fails naming `dir`. */
  def load(spark: SparkSession, dir: String): (DataFrame, Int) = {
    val metaPath = java.nio.file.Paths.get(s"$dir/meta.json")
    val meta =
      try java.nio.file.Files.readString(metaPath)
      catch {
        case e: java.io.IOException => throw new IllegalStateException(
          s"KNN model at $dir: cannot read meta.json ($e)", e)
      }
    val k = "\"k\":(\\d+)".r.findFirstMatchIn(meta).map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(
        s"""KNN model at $dir: meta.json has no "k" field: $meta"""))
    val (f, refsPath) = Work.fs(s"$dir/refs")
    if (!f.exists(refsPath)) throw new IllegalStateException(
      s"KNN model at $dir: reference set $refsPath is missing")
    (spark.read.schema(RefSchema).parquet(s"$dir/refs"), k)
  }

  // --- embeddings-table split shared by queries and oracle ------------

  /** Queries = vec_id % 5 == 0 (20%), refs = the rest — deterministic,
    * SQL-expressible split of the embeddings table. */
  def split(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = Tables(s, dir, "embeddings")
      .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
    // query side spread: downstream is |R| distances per query row
    // against a broadcast reference side, and the bench's single-file
    // scan would run it on one core (Tables.spread: identity at
    // cluster scale)
    val q = graft.Tables.spread(emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("qid"), col("e").as("qvec"),
        col("label").as("true_label")))
    val r = emb.filter(col("vec_id") % 5 =!= 0)
      .select(col("vec_id").as("rid"), col("e").as("rvec"), col("label"))
    (q, r)
  }

  private val oracleBase = """
      WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS e, label AS true_label
                 FROM embeddings WHERE vec_id % 5 = 0),
           r AS (SELECT vec_id AS rid, CAST(embedding AS DOUBLE[]) AS e, label
                 FROM embeddings WHERE vec_id % 5 <> 0),
           d AS (SELECT q.qid, q.true_label, r.rid, r.label,
                        list_distance(q.e, r.e) AS dist
                 FROM q CROSS JOIN r),
           topk AS (SELECT qid, true_label, rid, label FROM
                      (SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY dist, rid) AS rn FROM d)
                    WHERE rn <= 5),
           v AS (SELECT qid, true_label, label, count(*) AS c
                 FROM topk GROUP BY qid, true_label, label),
           pred AS (SELECT qid, true_label, label AS pred_label FROM
                      (SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY c DESC, label) AS vr FROM v)
                    WHERE vr = 1)"""

  /** knn_train: persist the model then read it back — witnesses the
    * persist/reload cycle (model = reference set).
    */
  val train = QueryDef(
    "knn_train",
    (s, dir) => {
      val (_, refs) = split(s, dir)
      val modelDir = Work.scratch("knn_model")
      save(refs, modelDir, k = 5)
      val (loaded, k) = load(s, modelDir)
      require(k == 5)
      loaded.select("rid", "label")
    },
    Some("SELECT vec_id AS rid, label FROM embeddings WHERE vec_id % 5 <> 0"))

  val predict = QueryDef(
    "knn_predict",
    (s, dir) => {
      val (q, r) = split(s, dir)
      predictDistributed(q, r, k = 5)
    },
    Some(s"$oracleBase SELECT qid, pred_label FROM pred"))

  /** Same contract and oracle as knn_predict; the plan prunes with
    * pivot lower bounds before the full-dimension distance. */
  val predictPruned = QueryDef(
    "knn_predict_pruned",
    (s, dir) => {
      val (q, r) = split(s, dir)
      predictDistributedPruned(q, r, k = 5)
    },
    Some(s"$oracleBase SELECT qid, pred_label FROM pred"))

  val predictUdf = QueryDef(
    "knn_predict_udf",
    (s, dir) => {
      val (q, r) = split(s, dir)
      // Parity twin of the reference's tab.to_pandas() (processor.py:
      // 124) — a driver-side collect by DESIGN, but guarded: the same
      // spark.graft.knn.maxBroadcastRows cap the distributed path uses
      // fails loudly here instead of OOMing the driver when a user
      // hands an oversized reference set. limit(cap+1) bounds what the
      // probe itself can pull (r12 review).
      val maxBc = s.conf.getOption("spark.graft.knn.maxBroadcastRows")
        .map(_.toLong).getOrElse(2000000L)
      val capProbe = math.min(maxBc + 1L, Int.MaxValue - 1L).toInt
      val collected = r.limit(capProbe).collect()
      require(collected.length <= maxBc,
        s"knn_predict_udf: reference set exceeds " +
        s"spark.graft.knn.maxBroadcastRows=$maxBc rows; use " +
        "knn_predict/knn_predict_pruned (distributed) instead")
      val refs = collected.map(row => Ref(
        row.getLong(0),
        row.getSeq[Double](1).toArray,
        row.getInt(2)))
      // named registration + expression-string projection — the
      // reference's scalar_udf_register + udf_projection pair
      registerPredictUdf(s, "mypred", refs, k = 5)
      q.select(col("qid"), expr("mypred(qvec)").as("pred_label"))
    },
    Some(s"$oracleBase SELECT qid, pred_label FROM pred"))

  /** knn_score: model accuracy as exact counts (the reference's
    * knn.score = mean correctness, processor.py:179-182; counts instead
    * of a float mean so the hash is exact).
    */
  val score = QueryDef(
    "knn_score",
    (s, dir) => {
      val (q, r) = split(s, dir)
      predictDistributed(q, r, k = 5)
        .join(q.select("qid", "true_label"), "qid")
        .agg(
          sum((col("pred_label") === col("true_label")).cast(LongType))
            .as("n_correct"),
          count(lit(1)).as("n_total"))
    },
    Some(s"""$oracleBase
      SELECT CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
             count(*) AS n_total
      FROM pred"""))

  val all: Seq[QueryDef] =
    Seq(train, predict, predictPruned, predictUdf, score)
}
