package graft

import graft.ml.Knn
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

class KnnSpec extends SparkSpec {

  /** Per-model twin of [[Knn.accuracies]]: predictDistributed per
    * model, joined to the truth labels on the frozen qid (vec_id). */
  private def accuracy(q: DataFrame, refs: DataFrame, k: Int): Double = {
    val row = Knn.predictDistributed(q, refs, k)
      .join(q.select("qid", "true_label"), "qid")
      .agg(
        sum((col("pred_label") === col("true_label")).cast(LongType)),
        count(lit(1)))
      .collect().head
    if (row.isNullAt(0) || row.getLong(1) == 0L) 0.0
    else row.getLong(0).toDouble / row.getLong(1)
  }

  /** Executed plans of the query executions `body` fires. */
  private def executedPlans(body: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString): Unit
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // drain first: an earlier action's end event still on the bus would
    // otherwise reach the listener and count as the body's
    org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark.sparkContext)
    spark.listenerManager.register(l)
    try body
    finally {
      org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark.sparkContext)
      spark.listenerManager.unregister(l)
    }
    plans.toArray(Array.empty[String]).toSeq
  }

  test("accuracies: one query execution, each model scored by its own k") {
    val (q, r) = Knn.split(spark, sf)
    val half = r.filter(col("rid") % 2 === 0)
    val models = Seq((r, 1), (half, 7), (r, 5))
    var got = Seq.empty[Double]
    val plans = executedPlans { got = Knn.accuracies(q, models) }
    assert(plans.size == 1, s"expected one query execution, got ${plans.size}")
    val want = models.map { case (m, k) => accuracy(q, m, k) }
    assert(got == want)
    assert(want.distinct.size > 1, s"models should differ: $want")
  }

  test("accuracies: reference set smaller than k, identical models") {
    val (q, r) = Knn.split(spark, sf)
    val tiny = r.filter(col("rid") < 4) // 3 references, k = 5
    assert(tiny.count() == 3)
    val got = Knn.accuracies(q, Seq((tiny, 5), (r, 5), (r, 5)))
    assert(got == Seq(accuracy(q, tiny, 5), accuracy(q, r, 5), accuracy(q, r, 5)))
    assert(got(1) == got(2), "identical retrained models must tie")
  }

  test("accuracies: empty validation set scores 0.0 for every model") {
    val (q, r) = Knn.split(spark, sf)
    val none = q.filter(lit(false))
    assert(Knn.accuracies(none, Seq((r, 5), (r, 3))) == Seq(0.0, 0.0))
    assert(accuracy(none, r, 5) == 0.0)
  }

  test("accuracies: over the broadcast cap routes through the shuffle join") {
    val (q, r) = Knn.split(spark, sf)
    val models = Seq((r, 5), (r.filter(col("rid") % 3 === 0), 2))
    val want = models.map { case (m, k) => accuracy(q, m, k) }
    spark.conf.set("spark.graft.knn.maxBroadcastRows", "1")
    try {
      var got = Seq.empty[Double]
      val plans = executedPlans { got = Knn.accuracies(q, models) }
      assert(got == want)
      val scoring = plans.filter(_.contains("topk_smallest"))
      assert(scoring.size == 1, plans.mkString("\n"))
      assert(!scoring.head.contains("BroadcastExchange"),
        "over-cap scoring must not broadcast:\n" + scoring.head)
      assert(scoring.head.contains("ShuffledHashJoin"), scoring.head)
    } finally spark.conf.unset("spark.graft.knn.maxBroadcastRows")
  }

  test("k=1 self-prediction: every reference vector predicts its own label") {
    val (_, refs) = Knn.split(spark, sf)
    val asQueries = refs.select(
      col("rid").as("qid"), col("rvec").as("qvec"), col("label").as("true_label"))
    val preds = Knn.predictDistributed(asQueries, refs, k = 1)
      .join(asQueries.select("qid", "true_label"), "qid")
    val wrong = preds.filter(col("pred_label") =!= col("true_label")).count()
    assert(wrong == 0, s"$wrong self-predictions wrong at k=1")
  }

  test("broadcast-UDF predict agrees exactly with distributed predict") {
    val (q, r) = Knn.split(spark, sf)
    val refs = r.collect().map(row =>
      Knn.Ref(row.getLong(0), row.getSeq[Double](1).toArray, row.getInt(2)))
    val a = Knn.predictDistributed(q, r, k = 5)
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    val b = Knn.predictBroadcastUdf(spark, q, refs, k = 5)
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(a == b)
  }

  test("shuffled exact path is bit-identical and engages past the broadcast cap") {
    val (q, r) = Knn.split(spark, sf)
    val want = Knn.predictDistributed(q, r, k = 5)
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    // direct call: block-nested shuffle join, no broadcast of refs
    val direct = Knn.predictShuffled(q, r, k = 5)
    assert(direct.collect().map(x => x.getLong(0) -> x.getInt(1)).toMap == want)
    // the executed plan must not broadcast the reference side
    direct.collect()
    val plan = direct.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"),
      "shuffled KNN path must not broadcast")
    // threshold routing: a forced 1-row cap sends predictDistributed
    // through the shuffle path with the same oracle-checked result
    spark.conf.set("spark.graft.knn.maxBroadcastRows", "1")
    try {
      val routed = Knn.predictDistributed(q, r, k = 5)
      assert(routed.collect().map(x => x.getLong(0) -> x.getInt(1)).toMap == want)
      routed.collect()
      assert(!routed.queryExecution.executedPlan.toString
        .contains("BroadcastExchange"))
    } finally spark.conf.unset("spark.graft.knn.maxBroadcastRows")
  }

  test("model save/load round-trips the reference set and k") {
    val (_, refs) = Knn.split(spark, sf)
    val dir = s"${Work.dir}/test_knn_model"
    Knn.save(refs, dir, k = 7)
    val (loaded, k) = Knn.load(spark, dir)
    assert(k == 7)
    assert(loaded.count() == refs.count())
    assert(loaded.schema == Knn.RefSchema)
  }

  test("load names the model dir when meta.json is missing or malformed") {
    val (_, refs) = Knn.split(spark, sf)
    val dir = s"${Work.dir}/test_knn_model_meta"
    Knn.save(refs, dir, k = 5)
    val meta = java.nio.file.Paths.get(s"$dir/meta.json")
    java.nio.file.Files.writeString(meta, "{}")
    val malformed = intercept[IllegalStateException](Knn.load(spark, dir))
    assert(malformed.getMessage.contains(dir), malformed.getMessage)
    java.nio.file.Files.delete(meta)
    val missing = intercept[IllegalStateException](Knn.load(spark, dir))
    assert(missing.getMessage.contains(dir), missing.getMessage)
    Work.clean(dir)
  }

  test("load names the model dir when the reference set is missing") {
    val (_, refs) = Knn.split(spark, sf)
    val dir = s"${Work.dir}/test_knn_model_refs"
    Knn.save(refs, dir, k = 5)
    Work.clean(s"$dir/refs")
    val e = intercept[IllegalStateException](Knn.load(spark, dir))
    assert(e.getMessage.contains(dir), e.getMessage)
    Work.clean(dir)
  }

  test("knn_score counts agree with recomputed prediction correctness") {
    val row = Knn.score.fn(spark, sf).collect().head
    val (q, _) = Knn.split(spark, sf)
    val preds = Knn.predict.fn(spark, sf)
      .join(q.select("qid", "true_label"), "qid")
    val correct = preds.filter(col("pred_label") === col("true_label")).count()
    assert(row.getLong(0) == correct)
    assert(row.getLong(1) == q.count())
  }

  test("spark.ml Pipeline face agrees with predictDistributed bit-for-bit") {
    import org.apache.spark.ml.Pipeline
    import graft.ml.KnnClassifier
    val (q, r) = Knn.split(spark, sf)
    val train = r.select(col("rid").as("id"), col("rvec").as("features"),
      col("label"))
    val test = q.select(col("qid").as("id"), col("qvec").as("features"))
    val pipeline = new Pipeline().setStages(Array(
      new KnnClassifier().setK(5)))
    val fitted = pipeline.fit(train)
    val got = fitted.transform(test)
      .select(col("id"), col("prediction"))
      .collect().map(row => row.getLong(0) -> row.getInt(1)).toMap
    val want = Knn.predictDistributed(q, r, 5)
      .collect().map(row => row.getLong(0) -> row.getInt(1)).toMap
    assert(got == want)
  }
}
