package graft

import graft.ext.Dedup
import graft.ml.Knn
import org.apache.spark.sql.functions._

/** Native fused vector expressions must be bit-identical to the
  * declarative zip_with/aggregate forms they replaced (oracle hashes
  * depend on it).
  */
class VectorExprSpec extends SparkSpec {

  private lazy val pairs = {
    val emb = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    emb.limit(40).select(col("vec_id").as("a"), col("e").as("ea"))
      .crossJoin(emb.limit(40).select(col("vec_id").as("b"), col("e").as("eb")))
  }

  test("native cosine == declarative cosine, bit for bit") {
    val diff = pairs.select(
      Dedup.cosine(col("ea"), col("eb")).as("x"),
      Dedup.cosineDeclarative(col("ea"), col("eb")).as("y"))
      .filter(col("x") =!= col("y")).count()
    assert(diff == 0)
  }

  test("native l2sq == declarative l2sq, bit for bit") {
    val diff = pairs.select(
      Knn.sqDist(col("ea"), col("eb")).as("x"),
      Knn.sqDistDeclarative(col("ea"), col("eb")).as("y"))
      .filter(col("x") =!= col("y")).count()
    assert(diff == 0)
  }

  test("native cosine argmax == declarative fold, tie policy included") {
    val emb = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // quantizer with a GUARANTEED tie per probe vector: each centroid
    // appears once under its own cid and once scaled ×2 under cid+1000
    // (cosine-identical) — strict-> must keep the lower cid both natively
    // and in the fold
    val cents = emb.limit(16)
      .select(col("vec_id").as("cid"), col("e").as("ce"))
    val tied = cents.unionAll(cents.select((col("cid") + 1000).as("cid"),
      transform(col("ce"), x => x * 2.0).as("ce")))
    val qt = tied.agg(
      sort_array(collect_list(struct(col("cid"), col("ce")))).as("cents"))
    val diff = emb.crossJoin(broadcast(qt))
      .select(
        graft.functions.VectorFunctions.cosineArgmax(col("e"), col("cents")).as("x"),
        Dedup.argmaxCosineDeclarative(col("e"), col("cents")).as("y"))
      .filter(col("x") =!= col("y")).count()
    assert(diff == 0)
    // ties resolved to the LOWER cid: no winner from the +1000 shadow set
    val winners = emb.crossJoin(broadcast(qt))
      .select(graft.functions.VectorFunctions
        .cosineArgmax(col("e"), col("cents")).as("cid"))
      .filter(col("cid") >= 1000).count()
    assert(winners == 0, "a scaled shadow centroid won an argmax tie")
  }

  test("mismatched lengths and null elements yield NULL, not garbage") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0, 2.0, 3.0)),
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)),
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)))
      .toDF("a", "b")
    val rows = df.select(
      Dedup.cosine(col("a"), col("b")).as("cos"),
      Knn.sqDist(col("a"), col("b")).as("l2")).collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1), "length mismatch → null")
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1), "null element → null")
    assert(math.abs(rows(2).getDouble(0) - 11.0 / (math.sqrt(5) * 5)) < 1e-12)
    assert(rows(2).getDouble(1) == 8.0)
  }

  test("bounded-heap predictDistributed equals window form") {
    val (q, r) = Knn.split(spark, sf)
    val heap = Knn.predictDistributed(q, r, 5)
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    val window = Knn.predictDistributedWindow(q, r, 5)
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(heap == window)
  }

  test("pivot-pruned exact predict equals unpruned predict, and prunes") {
    val (q, r) = Knn.split(spark, sf)
    val pruned = Knn.predictDistributedPruned(q, r, 5)
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    val full = Knn.predictDistributed(q, r, 5)
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(pruned == full)
  }

  test("pivot-pruned predict with fewer references than k disables the " +
      "bound (kth_p undefined) and still matches unpruned") {
    // r11 punch #6 rewrite: d-hat_k now comes from kth_p(|r-p|), which
    // does not exist when |R| < k — the infinite-bound path must keep
    // every pair and agree with the unpruned plan
    val (q, r) = Knn.split(spark, sf)
    val tiny = r.orderBy("rid").limit(3) // k = 5 > |R| = 3
    val pruned = Knn.predictDistributedPruned(q, tiny, 5)
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    val full = Knn.predictDistributed(q, tiny, 5)
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(pruned == full && pruned.nonEmpty)
  }

  test("bounded-heap predictFn equals full-sort semantics (distributed face)") {
    // the UDF face's k-selection must rank (dist, rid) and vote
    // (count desc, label asc) exactly like the window form
    val (q, r) = Knn.split(spark, sf)
    val udfPreds = Knn.predictBroadcastUdf(spark, q,
      r.collect().map(x => Knn.Ref(x.getLong(0),
        x.getSeq[Double](1).toArray, x.getInt(2))), 5)
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    val distPreds = Knn.predictDistributed(q, r, 5)
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(udfPreds == distPreds)
  }

  test("SQL-name registration: cosine_sim/l2_sq/topk_smallest usable in spark.sql") {
    Tables(spark, sf, "embeddings")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS e")
      .createOrReplaceTempView("emb_sql")
    val r = spark.sql("""
      SELECT sum(CASE WHEN abs(cosine_sim(e, e) - 1.0) < 1e-12 THEN 1 ELSE 0 END) AS unit,
             sum(CASE WHEN l2_sq(e, e) = 0.0 THEN 1 ELSE 0 END) AS zero,
             count(*) AS n
      FROM emb_sql""").collect().head
    assert(r.getLong(0) == r.getLong(2) && r.getLong(1) == r.getLong(2))
    val topk = spark.sql("""
      SELECT topk_smallest(CAST(vec_id AS DOUBLE), vec_id, 0, 3) AS t
      FROM emb_sql""").collect().head
    assert(topk.getSeq[org.apache.spark.sql.Row](0).map(_.getLong(1)) ==
      Seq(0L, 1L, 2L))
    // argmax/argmin family: each vector's nearest centroid (itself, if
    // it IS a centroid) and its p-nearest list's head agree
    val am = spark.sql("""
      WITH q AS (SELECT sort_array(collect_list(struct(vec_id AS cid, e AS ce)))
                   AS cents
                 FROM emb_sql WHERE vec_id % 16 = 0)
      SELECT sum(CASE WHEN cosine_argmax(e, cents) = vec_id
                      THEN 1 ELSE 0 END) AS self_cos,
             sum(CASE WHEN l2_argmin(e, cents) = vec_id
                      THEN 1 ELSE 0 END) AS self_l2,
             sum(CASE WHEN l2_argmin_topk(e, cents, 3)[0] = l2_argmin(e, cents)
                      THEN 1 ELSE 0 END) AS head_eq,
             count(*) AS n
      FROM emb_sql CROSS JOIN q WHERE vec_id % 16 = 0""").collect().head
    assert(am.getLong(0) == am.getLong(3), "a centroid's cosine argmax is itself")
    assert(am.getLong(1) == am.getLong(3), "a centroid's L2 argmin is itself")
    assert(am.getLong(2) == am.getLong(3), "topk head must equal the argmin")
  }

  test("term_counts == explode+groupBy postings, and joins codegen") {
    import graft.functions.TermCounts
    val docs = Tables(spark, sf, "documents")
    // reference postings the per-row fold must reproduce exactly
    val ref = docs
      .select(col("doc_id").as("did"),
        explode(graft.ext.TextAnalysis.tokens(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("did", "term").agg(count(lit(1)).as("tf"))
    val perRow = docs
      .select(col("doc_id").as("did"),
        explode(TermCounts.termCounts(
          graft.ext.TextAnalysis.tokens(col("text")))).as("p"))
      .select(col("did"), col("p.term").as("term"), col("p.tf").as("tf"))
    assert(ref.exceptAll(perRow).isEmpty && perRow.exceptAll(ref).isEmpty,
      "per-row term_counts diverges from the groupBy postings")
    // empties/nulls: empty strings skipped, null array → null out
    val edge = spark.sql(
      """SELECT term_counts(array('b', '', 'a', 'b')) AS tc,
                term_counts(CAST(null AS array<string>)) AS tn""")
    val r = edge.collect().head
    assert(r.isNullAt(1), "null input must stay null")
    val tc = r.getSeq[org.apache.spark.sql.Row](0)
    assert(tc.map(x => (x.getString(0), x.getLong(1))) ==
      Seq(("a", 1L), ("b", 2L)), "term-sorted runs expected")
    // stays inside the whole-stage span (static-forwarder codegen)
    val df = docs.select(TermCounts.termCounts(
      graft.ext.TextAnalysis.tokens(col("text"))).as("tc"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [term_counts"), plan.take(800))
  }

  test("expressions participate in whole-stage codegen") {
    val df = Tables(spark, sf, "embeddings")
      .select(col("embedding").cast("array<double>").as("e"))
      .select(Dedup.cosine(col("e"), col("e")).as("c"))
    df.collect()
    // "*(n)" prefixes mark operators inside a WholeStageCodegen span
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [cosine_sim"), plan.take(800))
  }
}
