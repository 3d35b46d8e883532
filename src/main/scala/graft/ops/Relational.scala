package graft.ops

import graft.{QueryDef, Tables, Work}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational witness queries for the reference's reachable SQL surface
  * (SURVEY.md §2.3): the reference hands users `table_env.execute_sql` /
  * expression-string `select` (reference processor.py:44,74,97,208,258,268),
  * i.e. arbitrary Flink SQL; the Spark engine witnesses the same surface
  * with idiomatic DataFrame plans that Catalyst optimizes (pushdown,
  * broadcast, partial aggregation, whole-stage codegen).
  *
  * Scale posture notes are in each query's scaladoc — every plan here
  * shuffles only on its aggregation/join keys, pushes filters and column
  * pruning into the parquet scan, and broadcasts dimension tables.
  */
object Relational {

  /** Money columns have exactly 2 decimals in the testdata, so
    * fixed-point BIGINT cents are exact AND hash-stable across engines
    * (DECIMAL output representations differ between Spark and DuckDB;
    * DuckDB sum(BIGINT) widens to HUGEINT, hence the CAST back on the
    * oracle side). round() yields an exactly-integral double, so the
    * truncating Spark cast and the rounding DuckDB cast agree.
    */
  private[graft] def cents(c: Column): Column =
    round(c * 100).cast(LongType)

  /** Exact BIGINT floor division for a positive divisor — portable to
    * DuckDB's `//`. Spark's `div` truncates toward zero; `a − pmod(a,b)`
    * is the largest multiple of b ≤ a (pmod is non-negative for b > 0),
    * so the truncating `div` on it IS the floor quotient, for either
    * sign of `a`. All-integer arithmetic (SQL `div`, not `/` — double
    * division would round past 2⁵³). Use this instead of raw `div` at
    * any fixed-point ratio site whose numerator can go negative
    * (round-9 verdict #4).
    */

  /** Exact `trunc(sum·1000 / n)` without the `sum * 1000` long
    * overflow: decomposed as `(s div n)·1000 + (rem·1000) div n` with
    * `rem = s − (s div n)·n` — |rem| < n keeps every product within
    * long, both `div`s truncate toward zero like this environment's
    * DuckDB `//` (measured, see RelationalSpec's div-semantics pin),
    * and the identity holds for signed sums because quotient and
    * remainder share the sum's sign. The fixed-point-mean helper for
    * aggregate reports (url_domain_stats, corpus_dsir_mixture). */
  private[graft] def meanMilli(sum: String, n: String): Column =
    expr(s"(($sum div $n) * 1000) + " +
      s"((($sum - ($sum div $n) * $n) * 1000) div $n)")

  /** TPC-H Q1-style scan→filter→partial/final hash aggregate. Money math
    * in fixed-point BIGINT cents (exact; see [[cents]]) so the hash is
    * stable across aggregation orders and engines. sum_disc_price is in
    * units of 1e-4 (cents × (100 - discount-in-hundredths)).
    * Scale: single shuffle on the 6-value group key; map-side combine
    * means shuffle volume is O(groups×partitions), not O(rows).
    */
  val q1Agg = QueryDef(
    "q1_agg",
    (s, dir) => {
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(cents(col("l_quantity"))).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_base_price"),
          sum(cents(col("l_extendedprice")) *
            (lit(100L) - cents(col("l_discount")))).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
                      (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_price,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus"""))

  /** Filter + projection; predicates and the 4-column ReadSchema reach the
    * parquet scan (PushedFilters). No shuffle at all. Raw column output so
    * the compare is bit-exact.
    */
  val q2Filter = QueryDef(
    "q2_filter_pushdown",
    (s, dir) => {
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1997-01-01").cast(TimestampType) &&
          col("l_discount").between(0.03, 0.07) &&
          col("l_quantity") < 25)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
    },
    Some("""
      SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount BETWEEN 0.03 AND 0.07
        AND l_quantity < 25"""))

  /** 3-way join: orders⋈customer (shuffle on custkey at scale; AQE may
    * broadcast) then ⋈nation (broadcast — 25 rows at any SF). Group by
    * nation name.
    */
  val q3Join = QueryDef(
    "q3_join_agg",
    (s, dir) => {
      val orders = Tables(s, dir, "orders")
      val customer = Tables(s, dir, "customer")
      val nation = Tables(s, dir, "nation")
      orders
        .join(customer, orders("o_custkey") === customer("c_custkey"))
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
        .groupBy("n_name")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("total_price"))
    },
    Some("""
      SELECT n_name, count(*) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_price
      FROM orders JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name"""))

  /** Fact⋈dim with an explicit broadcast hint: part is a dimension at
    * every SF, so the join is shuffle-free on the lineitem side.
    */
  val q4Broadcast = QueryDef(
    "q4_broadcast_join",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val part = Tables(s, dir, "part")
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .groupBy("p_brand")
        .agg(
          sum(cents(col("l_quantity"))).as("sum_qty"),
          count(lit(1)).as("n_lines"))
    },
    Some("""
      SELECT p_brand,
             CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty,
             count(*) AS n_lines
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand"""))

  /** Window function: top-2 orders per customer by price. One shuffle on
    * the partition key; ties broken by o_orderkey so the result is a
    * deterministic set.
    */
  val q5Window = QueryDef(
    "q5_window_topn",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice, rn
      FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders) t
      WHERE rn <= 2"""))

  /** Global top-k: Spark plans order-by+limit as TakeOrderedAndProject
    * (per-partition heaps, no full sort/shuffle). Total order via
    * tie-break keys.
    */
  val q6SortLimit = QueryDef(
    "q6_sort_limit",
    (s, dir) => {
      Tables(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
          col("l_linenumber").asc)
        .limit(100)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    },
    Some("""
      SELECT l_orderkey, l_linenumber, l_extendedprice
      FROM lineitem
      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      LIMIT 100"""))

  /** Grouping sets via ROLLUP; NULL grouping markers coalesced to 'ALL'
    * on both sides so null-ordering cannot perturb the compare.
    */
  val q7Rollup = QueryDef(
    "q7_rollup",
    (s, dir) => {
      Tables(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(cents(col("l_quantity"))).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_qty"))
    },
    Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             coalesce(l_linestatus, 'ALL') AS linestatus,
             count(*) AS n,
             CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)"""))

  /** CUBE over (returnflag, linestatus) — all four grouping
    * combinations; markers coalesced like q7. */
  val q22Cube = QueryDef(
    "q22_cube",
    (s, dir) => {
      Tables(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(cents(col("l_quantity"))).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_qty"))
    },
    Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             coalesce(l_linestatus, 'ALL') AS linestatus,
             count(*) AS n,
             CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)"""))

  /** Explicit GROUPING SETS not expressible as rollup or cube:
    * ((returnflag), (linestatus)) — two independent marginal
    * aggregations in one pass, via the SQL surface.
    */
  val q23GroupingSets = QueryDef(
    "q23_grouping_sets",
    (s, dir) => {
      Tables(s, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
      s.sql("""
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               count(*) AS n,
               sum(CAST(round(l_quantity * 100) AS BIGINT)) AS sum_qty
        FROM graft_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""")
    },
    Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             coalesce(l_linestatus, 'ALL') AS linestatus,
             count(*) AS n,
             CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"""))

  /** Exact distinct aggregates (expand+two-phase in Spark). At 100 TB one
    * would reach for approx_count_distinct/HLL; exact kept here because
    * the oracle must match bit-for-bit.
    */
  val q8Distinct = QueryDef(
    "q8_distinct_agg",
    (s, dir) => {
      Tables(s, dir, "lineitem").agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        count(lit(1)).as("n_rows"))
    },
    Some("""
      SELECT count(DISTINCT l_partkey) AS n_parts,
             count(DISTINCT l_suppkey) AS n_supps,
             count(DISTINCT l_orderkey) AS n_orders,
             count(*) AS n_rows
      FROM lineitem"""))

  /** Semi + anti join (EXISTS / NOT EXISTS) as tagged counts — always
    * non-empty regardless of SF. Spark plans left_semi/left_anti; both
    * broadcastable when the build side's distinct key set is small.
    */
  val q9Anti = QueryDef(
    "q9_semi_anti_join",
    (s, dir) => {
      val customer = Tables(s, dir, "customer")
      val orders = Tables(s, dir, "orders")
      val cond = customer("c_custkey") === orders("o_custkey")
      val semi = customer.join(orders, cond, "left_semi")
        .agg(count(lit(1)).as("n")).withColumn("tag", lit("with_orders"))
      val anti = customer.join(orders, cond, "left_anti")
        .agg(count(lit(1)).as("n")).withColumn("tag", lit("no_orders"))
      semi.unionAll(anti).select("tag", "n")
    },
    Some("""
      SELECT 'with_orders' AS tag, count(*) AS n FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      UNION ALL
      SELECT 'no_orders' AS tag, count(*) AS n FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"""))

  /** Set operations: INTERSECT and EXCEPT over nation-key sets, tagged
    * into one result.
    */
  val q10SetOps = QueryDef(
    "q10_setops",
    (s, dir) => {
      val c = Tables(s, dir, "customer").select(col("c_nationkey").as("k"))
      val sup = Tables(s, dir, "supplier").select(col("s_nationkey").as("k"))
      val both = c.intersect(sup).withColumn("tag", lit("both"))
      val custOnly = c.except(sup).withColumn("tag", lit("cust_only"))
      both.unionAll(custOnly).select("tag", "k")
    },
    Some("""
      SELECT 'both' AS tag, k FROM
        (SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey FROM supplier) t1
      UNION ALL
      SELECT 'cust_only' AS tag, k FROM
        (SELECT c_nationkey AS k FROM customer EXCEPT SELECT s_nationkey FROM supplier) t2"""))

  /** String + date scalar functions over orders, grouped by derived keys. */
  val q11StringDate = QueryDef(
    "q11_string_date",
    (s, dir) => {
      Tables(s, dir, "orders")
        .groupBy(
          year(col("o_orderdate")).as("y"),
          substring(col("o_orderpriority"), 1, 1).as("prio"),
          upper(col("o_orderstatus")).as("status"))
        .agg(count(lit(1)).as("n"),
          max(length(col("o_orderpriority"))).as("max_len"))
    },
    Some("""
      SELECT EXTRACT(YEAR FROM o_orderdate) AS y,
             substring(o_orderpriority, 1, 1) AS prio,
             upper(o_orderstatus) AS status,
             count(*) AS n,
             max(length(o_orderpriority)) AS max_len
      FROM orders
      GROUP BY 1, 2, 3"""))

  /** JSON extraction from the events.props payload (the reference's
    * format=json surface, processor.py:86,110,221), grouped.
    */
  val q12Json = QueryDef(
    "q12_json_extract",
    (s, dir) => {
      Tables(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast(IntegerType))
        .groupBy("k")
        .agg(count(lit(1)).as("n"),
          sum(cents(col("value"))).as("sum_value"))
    },
    Some("""
      SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
             count(*) AS n,
             CAST(sum(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) AS sum_value
      FROM events
      GROUP BY 1"""))

  /** Semi-structured JSON through Spark 4's VARIANT type — the modern
    * path next to q12's string-walking `get_json_object`: `parse_json`
    * ingests once into the binary variant encoding, then `variant_get`
    * extracts typed values by path (object fields, nested objects,
    * array indices) and `is_variant_null` distinguishes a JSON null
    * from a missing path. The nested document is CONSTRUCTED
    * deterministically per event (the planted pattern — `props` is
    * flat), so the DuckDB oracle replays the identical text through
    * its native JSON functions.
    * Scale: parse + extraction are per-row scan-side work (no shuffle);
    * the variant binary avoids re-parsing the JSON text once per
    * extracted path, which is q12's hidden cost when paths multiply.
    */
  val q45Variant = QueryDef(
    "q45_variant_json",
    (s, dir) => {
      val js = concat(lit("{\"p\":"), col("props"),
        lit(",\"u\":"), col("user_id"),
        lit(",\"tags\":[\"a\",\""), col("event_type"), lit("\"],\"extra\":"),
        when(col("event_id") % 5 === 0, lit("null"))
          .otherwise(concat(lit("\""), col("event_type"), lit("\""))),
        lit("}"))
      Tables(s, dir, "events")
        .withColumn("v", parse_json(js))
        .select(col("event_id"),
          expr("variant_get(v, '$.p.k', 'int')").as("k"),
          expr("variant_get(v, '$.u', 'bigint')").as("u"),
          expr("variant_get(v, '$.tags[1]', 'string')").as("tag"),
          expr("is_variant_null(variant_get(v, '$.extra'))")
            .as("extra_null"))
    },
    Some("""
      WITH j AS (
        SELECT event_id,
               '{"p":' || props || ',"u":' || user_id ||
               ',"tags":["a","' || event_type || '"],"extra":' ||
               (CASE WHEN event_id % 5 = 0 THEN 'null'
                     ELSE '"' || event_type || '"' END) || '}' AS js
        FROM events)
      SELECT event_id,
             CAST(json_extract_string(js, '$.p.k') AS INT) AS k,
             CAST(json_extract_string(js, '$.u') AS BIGINT) AS u,
             json_extract_string(js, '$.tags[1]') AS tag,
             (json_type(js, '$.extra') = 'NULL') AS extra_null
      FROM j"""))

  /** Spark 4 string COLLATIONS — case-insensitive semantics as a
    * column property (`collate(c, 'UTF8_LCASE')`) instead of lower()
    * scattered through every predicate: grouping, distinct counting,
    * and an equality filter all honor the collation natively, and the
    * optimizer sees one collated attribute rather than an expression
    * wrapper it can't push. The corpus is single-case, so a planted
    * pass uppercases every third event's type first (the q45/html
    * pattern); output keys are emitted through lower() so the DuckDB
    * oracle (which replays with lower(); its own collations are
    * per-database state the driver doesn't configure) hash-matches.
    * Scale: same one-shuffle aggregate as any groupBy — the collation
    * changes comparison, not the plan shape.
    */
  val q46Collation = QueryDef(
    "q46_collated_group",
    (s, dir) => {
      val planted = when(col("event_id") % 3 === 0,
        upper(col("event_type"))).otherwise(col("event_type"))
      val ci = collate(planted, "UTF8_LCASE")
      Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), ci.as("et"))
        .groupBy(col("et"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          sum(when(col("et") === lit("view"), 1L).otherwise(0L))
            .as("n_eq_view"))
        .select(lower(col("et")).as("event_type_ci"), col("n"),
          col("n_users"), col("n_eq_view"))
    },
    Some("""
      WITH p AS (
        SELECT event_id, user_id,
               CASE WHEN event_id % 3 = 0 THEN upper(event_type)
                    ELSE event_type END AS et
        FROM events)
      SELECT lower(et) AS event_type_ci, count(*) AS n,
             count(DISTINCT user_id) AS n_users,
             CAST(sum(CASE WHEN lower(et) = 'view' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_eq_view
      FROM p GROUP BY lower(et)"""))

  /** Array functions over tokenized text (split/size/element_at). */
  val q13Array = QueryDef(
    "q13_array_fns",
    (s, dir) => {
      val words = split(col("text"), " ")
      Tables(s, dir, "documents")
        .select(
          col("doc_id"),
          size(words).as("n_words"),
          element_at(words, 1).as("first_word"),
          element_at(words, -1).as("last_word"))
    },
    Some("""
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             string_split(text, ' ')[1] AS first_word,
             string_split(text, ' ')[-1] AS last_word
      FROM documents"""))

  /** Running aggregate window frame (cumulative sum per customer over
    * order dates) — the ROWS BETWEEN frame face of window functions
    * (row_number/rank covered by q5). Deterministic frame: ties broken
    * by o_orderkey in the ordering.
    */
  val q18Running = QueryDef(
    "q18_running_sum",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(cents(col("o_totalprice"))).over(w).as("running_cents"))
    },
    Some("""
      SELECT o_custkey, o_orderkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS running_cents
      FROM orders"""))

  /** Map-type + math scalar functions (the §2.3 category's map face):
    * build a map per row, look up by key, plus integer-exact math
    * scalars. Map values surfaced as scalars so the compare is
    * representation-independent.
    */
  val q19MapMath = QueryDef(
    "q19_map_math_fns",
    (s, dir) => {
      val m = map(
        lit("qty"), round(col("l_quantity")).cast(LongType),
        lit("line"), col("l_linenumber").cast(LongType))
      Tables(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 100)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          element_at(m, "qty").as("qty_from_map"),
          size(map_keys(m)).as("n_keys"),
          abs(col("l_linenumber") - 4).as("abs_diff"),
          greatest(col("l_linenumber"), lit(3)).as("gmax"),
          pmod(col("l_orderkey"), lit(7)).as("pm"))
    },
    Some("""
      SELECT l_orderkey, l_linenumber,
             CAST(round(l_quantity) AS BIGINT) AS qty_from_map,
             2 AS n_keys,
             abs(l_linenumber - 4) AS abs_diff,
             greatest(l_linenumber, 3) AS gmax,
             l_orderkey % 7 AS pm
      FROM lineitem
      WHERE l_orderkey <= 100"""))

  /** PIVOT: per-user event counts spread into one column per event
    * type. Explicit value list so the plan needs no distinct-scan;
    * oracle uses portable CASE aggregation (identical semantics).
    */
  val q20Pivot = QueryDef(
    "q20_pivot",
    (s, dir) => {
      Tables(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase"))
        .agg(count(lit(1)))
        .na.fill(0L)
    },
    Some("""
      SELECT user_id,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase
      FROM events
      GROUP BY user_id"""))

  /** The raw-SQL escape hatch itself (the reference's execute_sql
    * surface, processor.py:44,74,97,208,268) with a correlated scalar
    * subquery — Catalyst decorrelates it into a join; the oracle runs
    * the equivalent SQL. Orders priced above their customer's average.
    */
  val q21Subquery = QueryDef(
    "q21_scalar_subquery",
    (s, dir) => {
      Tables(s, dir, "orders").createOrReplaceTempView("graft_orders")
      s.sql("""
        SELECT o_custkey, count(*) AS n_above
        FROM graft_orders o
        WHERE o_totalprice > (SELECT avg(o_totalprice)
                              FROM graft_orders i
                              WHERE i.o_custkey = o.o_custkey)
        GROUP BY o_custkey""")
    },
    Some("""
      SELECT o_custkey, count(*) AS n_above
      FROM orders o
      WHERE o_totalprice > (SELECT avg(o_totalprice)
                            FROM orders i
                            WHERE i.o_custkey = o.o_custkey)
      GROUP BY o_custkey"""))

  /** NTILE bucketing — the ranking-window face beyond row_number (q5)
    * and frames (q18): price quartiles within each order priority.
    * Deterministic: total tie-break order, and NTILE's remainder
    * distribution (first buckets get the extra rows) is the standard
    * SQL definition both engines implement.
    */
  val q24Ntile = QueryDef(
    "q24_ntile",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(w).as("price_quartile"))
    },
    Some("""
      SELECT o_orderkey, o_orderpriority,
             ntile(4) OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey)
               AS price_quartile
      FROM orders"""))

  /** Generator (UDTF) face: posexplode of the token array — one output
    * row per (doc, position). Word frequency plus first-occurrence
    * position witnesses both the value and the ordinal the generator
    * emits. Scale: explode is pipelined (no shuffle of its own); the
    * single shuffle is the word-keyed aggregate with map-side combine.
    */
  val q25Explode = QueryDef(
    "q25_explode_wordcount",
    (s, dir) =>
      Tables(s, dir, "documents")
        .select(posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "word")))
        .filter(col("word") =!= "")
        .groupBy("word")
        .agg(count(lit(1)).as("n"),
          min(col("pos")).cast(LongType).as("first_pos")),
    Some("""
      WITH w AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws
                 FROM documents),
           e AS (SELECT unnest(ws) AS word,
                        unnest(generate_series(1, len(ws))) AS pos
                 FROM w)
      SELECT word, count(*) AS n, min(pos) - 1 AS first_pos
      FROM e WHERE word <> '' GROUP BY 1"""))

  /** Exact interpolated percentiles (median + quartiles) per group.
    * Inputs are integer cents and the interpolation fractions are
    * exactly representable powers of two (.25/.5/.75), so quadrupling
    * the result is exactly integral in both engines — hash-stable with
    * no float boundary risk (same discipline as [[cents]]).
    * Scale: sort-based aggregate within each of 5 groups; at 100 TB
    * one swaps in approx_percentile (t-digest partials merge map-side)
    * — witnessed by q15's sketch twin of q8.
    */
  val q26Percentile = QueryDef(
    "q26_percentile",
    (s, dir) =>
      Tables(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n"),
          expr("CAST(round(percentile(CAST(round(o_totalprice * 100) AS BIGINT), 0.25) * 4) AS BIGINT)").as("p25_x4"),
          expr("CAST(round(percentile(CAST(round(o_totalprice * 100) AS BIGINT), 0.5) * 4) AS BIGINT)").as("median_x4"),
          expr("CAST(round(percentile(CAST(round(o_totalprice * 100) AS BIGINT), 0.75) * 4) AS BIGINT)").as("p75_x4")),
    Some("""
      SELECT o_orderpriority, count(*) AS n,
             CAST(round(quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.25) * 4) AS BIGINT) AS p25_x4,
             CAST(round(quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.5) * 4) AS BIGINT) AS median_x4,
             CAST(round(quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.75) * 4) AS BIGINT) AS p75_x4
      FROM orders GROUP BY 1"""))

  /** Recursive CTE (Spark 4 WITH RECURSIVE) through the raw-SQL escape
    * hatch the reference exposes: a month-level date spine from min to
    * max order date, LEFT JOINed to per-month order counts — the
    * calendar-spine pattern that reports gaps as explicit zero rows.
    * The max bound is threaded through the recursion as a column so the
    * recursive term needs no subquery; depth = months spanned (~84),
    * within Spark's default recursion limit. Scale: the spine is tiny
    * at any SF; the only real work is one month-keyed aggregate.
    */
  val q27DateSpine = QueryDef(
    "q27_date_spine",
    (s, dir) => {
      Tables(s, dir, "orders").createOrReplaceTempView("graft_orders_rec")
      s.sql("""
        WITH RECURSIVE months(m, mx) AS (
          SELECT CAST(date_trunc('MONTH', min(o_orderdate)) AS DATE),
                 CAST(date_trunc('MONTH', max(o_orderdate)) AS DATE)
          FROM graft_orders_rec
          UNION ALL
          SELECT add_months(m, 1), mx FROM months WHERE m < mx),
        per_order AS (
          SELECT CAST(date_trunc('MONTH', o_orderdate) AS DATE) AS om,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM graft_orders_rec)
        SELECT date_format(m.m, 'yyyy-MM') AS month,
               count(per_order.om) AS n_orders,
               coalesce(sum(per_order.cents), 0L) AS total_cents
        FROM months m LEFT JOIN per_order ON per_order.om = m.m
        GROUP BY 1""")
    },
    Some("""
      WITH RECURSIVE months(m, mx) AS (
        SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE),
               CAST(date_trunc('month', max(o_orderdate)) AS DATE)
        FROM orders
        UNION ALL
        SELECT CAST(m + INTERVAL 1 MONTH AS DATE), mx
        FROM months WHERE m < mx),
      per_order AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS om,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders)
      SELECT strftime(m.m, '%Y-%m') AS month,
             count(per_order.om) AS n_orders,
             CAST(coalesce(sum(per_order.cents), 0) AS BIGINT) AS total_cents
      FROM months m LEFT JOIN per_order ON per_order.om = m.m
      GROUP BY 1"""))

  /** Single-pass table profiling — the data-quality monitoring face of
    * a pipeline: row count, domain cardinality, value ranges, null
    * counts, date span, in ONE scan (all aggregates share the pass;
    * map-side partials make shuffle volume O(partitions)).
    */
  val q28Profile = QueryDef(
    "q28_profile",
    (s, dir) =>
      Tables(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_returnflag")).as("n_flags"),
        min(cents(col("l_extendedprice"))).as("min_price_cents"),
        max(cents(col("l_extendedprice"))).as("max_price_cents"),
        sum(col("l_quantity").isNull.cast(LongType)).as("n_null_qty"),
        date_format(min(col("l_shipdate")), "yyyy-MM-dd").as("first_ship"),
        date_format(max(col("l_shipdate")), "yyyy-MM-dd").as("last_ship")),
    Some("""
      SELECT count(*) AS n_rows,
             count(DISTINCT l_returnflag) AS n_flags,
             min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS min_price_cents,
             max(CAST(round(l_extendedprice * 100) AS BIGINT)) AS max_price_cents,
             CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_qty,
             strftime(min(l_shipdate), '%Y-%m-%d') AS first_ship,
             strftime(max(l_shipdate), '%Y-%m-%d') AS last_ship
      FROM lineitem"""))

  /** UNPIVOT (melt) — the inverse of q20's PIVOT: a wide
    * per-status-column frame back to (priority, status, total) long
    * form. Spark's unpivot KEEPS null cells (absent combinations), so
    * they are filtered explicitly — the oracle's plain two-key
    * aggregate never produces them.
    */
  val q29Unpivot = QueryDef(
    "q29_unpivot",
    (s, dir) => {
      val wide = Tables(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(sum(cents(col("o_totalprice"))))
      wide.unpivot(
        ids = Array(col("o_orderpriority")),
        values = Array(col("O"), col("F"), col("P")),
        variableColumnName = "status",
        valueColumnName = "total_cents")
        .filter(col("total_cents").isNotNull)
    },
    Some("""
      SELECT o_orderpriority, o_orderstatus AS status,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
      FROM orders
      GROUP BY 1, 2"""))

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * match each other instead of vanishing — the semantics dimension
    * a plain equi-join silently drops. Keys made nullable via nullif
    * (residue 5 → NULL) so the case is actually exercised.
    */
  val q30NullSafeJoin = QueryDef(
    "q30_null_safe_join",
    (s, dir) => {
      val o = Tables(s, dir, "orders")
        .select(nullif(col("o_custkey") % 10, lit(5)).as("bucket"),
          col("o_totalprice"))
      val dim = o.select(col("bucket")).distinct()
        .withColumn("bucket_name",
          coalesce(col("bucket").cast(StringType), lit("unknown")))
      o.join(dim, o("bucket") <=> dim("bucket"))
        .groupBy("bucket_name")
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
    },
    Some("""
      WITH o AS (SELECT nullif(o_custkey % 10, 5) AS bucket, o_totalprice
                 FROM orders),
           dim AS (SELECT bucket,
                          coalesce(CAST(bucket AS VARCHAR), 'unknown')
                            AS bucket_name
                   FROM (SELECT DISTINCT bucket FROM o))
      SELECT bucket_name, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
      FROM o JOIN dim ON o.bucket IS NOT DISTINCT FROM dim.bucket
      GROUP BY 1"""))

  /** RANGE window frame: the running sum includes all PEERS of the
    * current order date (every row with the same date), unlike q18's
    * ROWS frame which cuts between peers — the frame-semantics pair
    * every SQL engine must distinguish.
    */
  val q31RangeFrame = QueryDef(
    "q31_range_frame",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority").orderBy("od")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_orderdate").cast(DateType).as("od"),
          cents(col("o_totalprice")).as("c"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          sum(col("c")).over(w).as("running_cents"))
    },
    Some("""
      SELECT o_orderkey, o_orderpriority,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
               OVER (PARTITION BY o_orderpriority
                     ORDER BY CAST(o_orderdate AS DATE)
                     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS running_cents
      FROM orders"""))

  /** FULL OUTER join — the last join flavor in the matrix (inner q3/q4,
    * semi/anti q9, left q27, null-safe q30, interval/asof/range
    * elsewhere): two deliberately mismatched key sets, summarized by
    * side presence. Scale: same single hash shuffle as an inner join;
    * unmatched rows stream through with nulls.
    */
  val q32FullOuter = QueryDef(
    "q32_full_outer",
    (s, dir) => {
      val a = Tables(s, dir, "customer")
        .filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey").as("k")).distinct()
      val b = Tables(s, dir, "orders")
        .filter(col("o_custkey") % 3 === 0)
        .select(col("o_custkey").as("k2")).distinct()
      a.join(b, col("k") === col("k2"), "full_outer")
        .agg(
          sum((col("k").isNotNull && col("k2").isNotNull).cast(LongType))
            .as("n_both"),
          sum((col("k").isNotNull && col("k2").isNull).cast(LongType))
            .as("n_left_only"),
          sum((col("k").isNull && col("k2").isNotNull).cast(LongType))
            .as("n_right_only"))
    },
    Some("""
      WITH a AS (SELECT DISTINCT c_custkey AS k FROM customer
                 WHERE c_custkey % 2 = 0),
           b AS (SELECT DISTINCT o_custkey AS k2 FROM orders
                 WHERE o_custkey % 3 = 0)
      SELECT CAST(sum(CASE WHEN k IS NOT NULL AND k2 IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
             CAST(sum(CASE WHEN k IS NOT NULL AND k2 IS NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_left_only,
             CAST(sum(CASE WHEN k IS NULL AND k2 IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_right_only
      FROM a FULL OUTER JOIN b ON a.k = b.k2"""))

  /** Sketch-based distinct counting — the 100 TB form of q8: HLL++
    * partial sketches merge map-side, so shuffle volume is O(sketch ×
    * partitions) regardless of cardinality. DuckDB's
    * approx_count_distinct is a different sketch, so the estimates
    * themselves can't be oracled value-for-value; instead the result
    * carries the EXACT counts (oracled) plus estimate-within-10%
    * booleans the oracle asserts TRUE — the driver's hash gate thereby
    * bound-checks the HLL estimates every round (Spark's HLL is
    * deterministic, so the booleans are stable). The exact columns are
    * the witness only: at 100 TB one ships the HLL estimate alone and
    * this query's exact twin is q8.
    */
  val q15Approx = QueryDef(
    "q15_approx_distinct",
    (s, dir) => {
      def ok(est: Column, exact: Column): Column =
        abs(est - exact) <= exact * 0.1
      val li = Tables(s, dir, "lineitem")
      // The HLLs and the exact distincts MUST stay in separate
      // aggregates: combined, Spark routes the algebraic sketch aggs
      // through the multi-distinct Expand and keys PARTIAL HLL SKETCHES
      // by the expanded distinct tuples — ~150 sketch longs (1.2 KB)
      // per distinct (value, gid) group through the shuffle, measured
      // 2.6 s vs 1.1 s split at sf0.1 (and ruinous at 100 TB, where
      // that shuffle is sketch-bytes × distinct values instead of
      // sketch-bytes × partitions). Split, the sketch agg shuffles one
      // sketch set per partition and the exact agg's Expand shuffles
      // bare (value, gid) pairs after map-side dedup; the two 1-row
      // results recombine in a trivial nested-loop join.
      val ests = li.agg(
        approx_count_distinct(col("l_partkey")).as("est_parts"),
        approx_count_distinct(col("l_suppkey")).as("est_supps"),
        approx_count_distinct(col("l_orderkey")).as("est_orders"))
      val exacts = li.agg(
        countDistinct(col("l_partkey")).as("n_parts_exact"),
        countDistinct(col("l_suppkey")).as("n_supps_exact"),
        countDistinct(col("l_orderkey")).as("n_orders_exact"))
      exacts.crossJoin(ests).select(
        col("n_parts_exact"), col("n_supps_exact"), col("n_orders_exact"),
        ok(col("est_parts"), col("n_parts_exact")).as("parts_est_ok"),
        ok(col("est_supps"), col("n_supps_exact")).as("supps_est_ok"),
        ok(col("est_orders"), col("n_orders_exact")).as("orders_est_ok"))
    },
    Some("""
      SELECT count(DISTINCT l_partkey) AS n_parts_exact,
             count(DISTINCT l_suppkey) AS n_supps_exact,
             count(DISTINCT l_orderkey) AS n_orders_exact,
             TRUE AS parts_est_ok, TRUE AS supps_est_ok,
             TRUE AS orders_est_ok
      FROM lineitem"""))

  /** CSV sink + declared-schema CSV scan round-trip — the reference's
    * filesystem connector pair (processor.py:44-58 source with
    * csv.ignore-parse-errors → DROPMALFORMED; processor.py:261-278 sink).
    */
  val q0Csv = QueryDef(
    "csv_roundtrip",
    (s, dir) => {
      val path = Work.scratch("csv_roundtrip")
      Work.clean(path)
      Tables(s, dir, "nation").write.mode("overwrite").csv(path)
      s.read
        .schema(StructType(Seq(
          StructField("n_nationkey", IntegerType),
          StructField("n_name", StringType),
          StructField("n_regionkey", IntegerType))))
        .option("mode", "DROPMALFORMED")
        .csv(path)
    },
    Some("SELECT n_nationkey, n_name, n_regionkey FROM nation"))

  /** Correlated LATERAL subquery — the other half of the decorrelation
    * surface beyond q21's scalar subquery: a per-row dependent subquery
    * with ORDER BY + LIMIT (top order per customer), which Catalyst
    * rewrites into a join + per-group limit; customers without orders
    * drop out (inner lateral). Deterministic via the total tie-break.
    * Scale: decorrelated plan shuffles once on the correlation key —
    * never a per-row subquery execution.
    */
  val q33Lateral = QueryDef(
    "q33_lateral_topk",
    (s, dir) => {
      Tables(s, dir, "customer").createOrReplaceTempView("graft_customer")
      Tables(s, dir, "orders").createOrReplaceTempView("graft_orders_lat")
      s.sql("""
        SELECT c.c_custkey, t.o_orderkey, t.price_cents
        FROM graft_customer c,
        LATERAL (SELECT o_orderkey,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
                 FROM graft_orders_lat o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey
                 LIMIT 1) t""")
    },
    Some("""
      SELECT c.c_custkey, t.o_orderkey, t.price_cents
      FROM customer c,
      LATERAL (SELECT o_orderkey,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
               FROM orders o
               WHERE o.o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey
               LIMIT 1) t"""))

  /** CDC log compaction: the latest row per key from an append-only
    * change stream — `events` as the changelog, key (user_id,
    * event_type), recency by (ts, event_id). The standard "upsert view
    * of a log" every CDC-ingesting table maintains. ts surfaces at
    * microsecond granularity (integer `div`; nanos-as-long discipline,
    * see stream_sink_json).
    * Scale: one shuffle on the key; at extreme per-key churn the window
    * becomes a max_by aggregation (same single-shuffle shape, map-side
    * partial) — both never hold more than a partition's sort spill.
    */
  /** Newest row per (user_id, event_type) by (ts desc, event_id desc) —
    * THE recency rule for the events changelog, shared by the batch
    * witness below and the streaming snapshot merge
    * (streaming/StreamOps.mergeLatestSnapshot) so the two faces cannot
    * silently diverge on the tie-break.
    */
  def latestByKey(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // recency at MICROsecond granularity on both engines: Spark sees
    // the raw nanos long, DuckDB the micros-truncated parquet
    // timestamp — ordering by raw nanos could pick a different winner
    // than the oracle for two same-key events within one microsecond
    // whose event_id order differs from their nano order (round-4
    // advice). ts div 1000 matches the epoch_us the oracle orders by;
    // event_id breaks the remaining ties identically on both sides.
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(expr("ts div 1000").desc, col("event_id").desc)
    events.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  val q34LatestByKey = QueryDef(
    "q34_latest_by_key",
    (s, dir) => {
      latestByKey(Tables(s, dir, "events"))
        .select(col("user_id"), col("event_type"), col("event_id"),
          expr("ts div 1000").as("ts_us"), cents(col("value")).as("value_cents"))
    },
    Some("""
      SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
             CAST(round(value * 100) AS BIGINT) AS value_cents
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
            FROM events)
      WHERE rn = 1"""))

  /** MERGE/upsert snapshot: apply a deterministic change feed (updates,
    * planted inserts and deletes derived from orders) to the customer
    * base table and emit the merged snapshot — the batch MERGE INTO a
    * lakehouse table runs per ingestion cycle, expressed as the
    * full-outer-join + case plan Spark compiles MERGE to.
    * Changes: per customer, delta = sum of order cents; custkey % 10 = 7
    * → delete, custkey % 50 = 0 → re-keyed negative (an insert of a key
    * the base lacks at ANY scale factor); everything else updates the
    * account balance.
    * Scale: one shuffle join on the merge key (sort-merge at fact scale,
    * AQE-broadcast when the feed is small); deletes/updates/inserts are
    * per-row case logic, no second pass.
    */
  val q35MergeUpsert = QueryDef(
    "q35_merge_upsert",
    (s, dir) => {
      val changes = Tables(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("delta_cents"))
        .select(
          // planted INSERT keys live outside the base key domain by
          // construction: custkeys are positive at every SF, so the
          // negated key can never collide with a real customer (the
          // round-4 +10M offset silently became an update once custkeys
          // passed 10M, i.e. TPC-H SF ~67)
          when(col("o_custkey") % 50 === 0, -(col("o_custkey") + 1L))
            .otherwise(col("o_custkey")).as("m_key"),
          when(col("o_custkey") % 10 === 7, lit("D")).otherwise(lit("U"))
            .as("op"),
          col("delta_cents"))
      val base = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"),
          cents(col("c_acctbal")).as("bal_cents"))
      base.join(changes, col("c_custkey") === col("m_key"), "full_outer")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(
          coalesce(col("c_custkey"), col("m_key")).as("cust_key"),
          coalesce(col("c_name"), lit("NEW")).as("name"),
          (coalesce(col("bal_cents"), lit(0L)) +
            coalesce(col("delta_cents"), lit(0L))).as("bal_cents"))
    },
    Some("""
      WITH changes AS (
        SELECT CASE WHEN o_custkey % 50 = 0 THEN -(o_custkey + 1)
                    ELSE o_custkey END AS m_key,
               CASE WHEN o_custkey % 10 = 7 THEN 'D' ELSE 'U' END AS op,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS delta_cents
        FROM orders GROUP BY o_custkey),
      base AS (SELECT c_custkey, c_name,
                      CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
               FROM customer)
      SELECT coalesce(c_custkey, m_key) AS cust_key,
             coalesce(c_name, 'NEW') AS name,
             coalesce(bal_cents, 0) + coalesce(delta_cents, 0) AS bal_cents
      FROM base FULL OUTER JOIN changes ON c_custkey = m_key
      WHERE op IS NULL OR op <> 'D'"""))

  /** Rank-family windows over genuine ties: rank (gaps after ties) and
    * dense_rank (no gaps) of line items by quantity within an order —
    * integer quantities tie constantly, which is exactly what separates
    * the three ranking functions (row_number is witnessed in q5).
    * Tied rows get equal ranks on both engines, so the output is
    * deterministic without a total order.
    * Scale: windows partition by order key — parallel, bounded groups.
    */
  val q36RankFamily = QueryDef(
    "q36_rank_family",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_orderkey")
        .orderBy(col("l_quantity").desc)
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          // round() first: raw cast truncates in Spark but rounds in
          // DuckDB (see cents()); quantities are integral so this is
          // belt-and-suspenders, not a value change
          round(col("l_quantity")).cast(LongType).as("qty"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"))
    },
    Some("""
      SELECT l_orderkey, l_linenumber, CAST(round(l_quantity) AS BIGINT) AS qty,
             rank() OVER (PARTITION BY l_orderkey ORDER BY l_quantity DESC)
               AS rnk,
             dense_rank() OVER (PARTITION BY l_orderkey ORDER BY l_quantity DESC)
               AS drnk
      FROM lineitem"""))

  /** The rank-family TOP-K: the q36 window bounded by `rnk <= 2`,
    * written exactly the way a user writes "top 2 per order with ties"
    * — and rewritten by [[graft.plans.TopKRewrite]] into the
    * tie-keeping [[graft.functions.RankTopK]] aggregate (round-11
    * verdict punch #1: the rank() spelling previously fell back to the
    * full-shuffle window; rank bounds must keep EVERY row order-equal
    * to the k-th, so the row_number heap could not be reused). Integer
    * quantities tie constantly, which is what makes this key prove the
    * tie contract: both engines keep all boundary ties, so output is
    * deterministic without a total order. The key sets no conf: the
    * rewrite fires wherever the session registered it; the plan shape
    * (no Window, map-side partial rank_topk) is pinned in PlanSpec, rank-tie equality in both directions in PropertySpec.
    * Scale: map-side partials keep (k + boundary ties) rows per
    * (order, partition) — the exchange carries O(groups·k·partitions)
    * rows instead of every line item.
    */
  val topkRankAuto = QueryDef(
    "topk_rank_auto",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_orderkey")
        .orderBy(col("l_quantity").desc)
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity")).cast(LongType).as("qty"),
          rank().over(w).as("rnk"))
        .filter(col("rnk") <= 2)
    },
    Some("""
      SELECT * FROM (
        SELECT l_orderkey, l_linenumber,
               CAST(round(l_quantity) AS BIGINT) AS qty,
               rank() OVER (PARTITION BY l_orderkey
                            ORDER BY l_quantity DESC) AS rnk
        FROM lineitem)
      WHERE rnk <= 2"""))

  /** dense_rank() face of [[topkRankAuto]]: "top 2 quantity LEVELS per
    * order, all rows at each level" — the rewrite keeps the k smallest
    * DISTINCT sort keys per group ([[graft.functions.RankTopK]] with
    * dense = true). Retention is bounded by distinct keys, not rows;
    * the emitted rank carries no gaps, exactly SQL dense_rank. */
  val topkDenseRankAuto = QueryDef(
    "topk_dense_rank_auto",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_orderkey")
        .orderBy(col("l_quantity").desc)
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity")).cast(LongType).as("qty"),
          dense_rank().over(w).as("drnk"))
        .filter(col("drnk") <= 2)
    },
    Some("""
      SELECT * FROM (
        SELECT l_orderkey, l_linenumber,
               CAST(round(l_quantity) AS BIGINT) AS qty,
               dense_rank() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_quantity DESC) AS drnk
        FROM lineitem)
      WHERE drnk <= 2"""))

  /** ANSI three-valued-logic witness: NOT IN against a subquery that
    * contains a NULL yields UNKNOWN for every row (count 0), while NOT
    * EXISTS with the equivalent predicate anti-joins normally — the
    * classic NOT IN/NOT EXISTS divergence every SQL engine must honor
    * and every migration guide warns about. Both engines must agree on
    * both counts for the hash to match.
    * Scale: both variants plan as aggregations over (broadcast) anti
    * joins — one shuffle-free pass each at dimension size.
    */
  val q37NotInNulls = QueryDef(
    "q37_not_in_nulls",
    (s, dir) => {
      Tables(s, dir, "customer").createOrReplaceTempView("graft_cust_nin")
      Tables(s, dir, "orders").createOrReplaceTempView("graft_ord_nin")
      s.sql("""
        SELECT 'not_in' AS variant, count(*) AS n
        FROM graft_cust_nin
        WHERE c_custkey NOT IN
          (SELECT CASE WHEN o_custkey % 100 = 0 THEN NULL ELSE o_custkey END
           FROM graft_ord_nin)
        UNION ALL
        SELECT 'not_exists', count(*)
        FROM graft_cust_nin c
        WHERE NOT EXISTS
          (SELECT 1 FROM graft_ord_nin o
           WHERE CASE WHEN o.o_custkey % 100 = 0 THEN NULL
                      ELSE o.o_custkey END = c.c_custkey)""")
    },
    Some("""
      SELECT 'not_in' AS variant, count(*) AS n
      FROM customer
      WHERE c_custkey NOT IN
        (SELECT CASE WHEN o_custkey % 100 = 0 THEN NULL ELSE o_custkey END
         FROM orders)
      UNION ALL
      SELECT 'not_exists', count(*)
      FROM customer c
      WHERE NOT EXISTS
        (SELECT 1 FROM orders o
         WHERE CASE WHEN o.o_custkey % 100 = 0 THEN NULL
                    ELSE o.o_custkey END = c.c_custkey)"""))

  /** Conditional-aggregate surface: the SQL FILTER clause (per-
    * aggregate predicates without CASE contortions) and ordered
    * LISTAGG ... WITHIN GROUP (Spark 4) — DuckDB mirrors listagg with a
    * sorted DISTINCT list join, value-identical. A filtered sum over an
    * empty set is NULL in both engines (witnessed when a group has no
    * qualifying rows).
    * Scale: single hash aggregate with map-side combine; the listagg
    * group payload is the distinct event-type set (bounded, tiny).
    */
  val q38FilterListagg = QueryDef(
    "q38_agg_filter_listagg",
    (s, dir) => {
      Tables(s, dir, "events").createOrReplaceTempView("graft_ev_fl")
      s.sql("""
        SELECT user_id % 10 AS ug,
               count(*) FILTER (WHERE value > 50) AS n_big,
               sum(CAST(round(value * 100) AS BIGINT))
                 FILTER (WHERE value > 90) AS big_cents,
               listagg(DISTINCT event_type, ',')
                 WITHIN GROUP (ORDER BY event_type) AS types
        FROM graft_ev_fl
        GROUP BY user_id % 10""")
    },
    Some("""
      SELECT user_id % 10 AS ug,
             count(*) FILTER (WHERE value > 50) AS n_big,
             CAST(sum(CAST(round(value * 100) AS BIGINT))
               FILTER (WHERE value > 90) AS BIGINT) AS big_cents,
             array_to_string(list_sort(list(DISTINCT event_type)), ',')
               AS types
      FROM events
      GROUP BY user_id % 10"""))

  /** Event-time bucketing on the NATIVE timestamp column. Every other
    * events consumer goes through Tables' canonical long-nanos view;
    * this key reads the parquet's own timestamp[us] type so the
    * event-time RANGE predicate pushes into the scan as parquet
    * row-group min/max pruning — on a month-partitioned 100 TB event
    * log, that pushdown (pinned in PlanSpec) is the difference between
    * scanning a week and scanning a year. Hourly date_trunc buckets +
    * per-type counts/cents; bucket exposed as epoch-micros (the
    * engine-portable representation every other ts key uses).
    * Legacy TIMESTAMP(NANOS) testdata (read as long under
    * nanosAsLong) gets the timestamp re-derived — semantics identical,
    * pushdown sacrificed on a vintage that no longer ships.
    */
  val q39EventTime = QueryDef(
    "q39_event_time_bucket",
    (s, dir) => {
      val raw = s.read.parquet(s"$dir/events.parquet")
      val ev =
        if (raw.schema("ts").dataType == LongType)
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else raw
      ev.filter(col("ts") >= lit("2024-01-10 00:00:00") &&
          col("ts") < lit("2024-01-17 00:00:00"))
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_cents"))
        .select(unix_micros(col("h").cast(TimestampType)).as("hour_us"),
          col("event_type"), col("n"), col("sum_cents"))
    },
    Some("""
      SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
             count(*) AS n,
             CAST(sum(CAST(round("value" * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        AND ts < TIMESTAMP '2024-01-17 00:00:00'
      GROUP BY 1, 2"""))

  /** Event-log forward fill: per user, carry the LAST purchase amount
    * onto every subsequent event — `last(_, ignoreNulls)` over a
    * running row frame, the canonical gap-fill/LOCF (last observation
    * carried forward) over sparse observations in an event stream.
    * Events before a user's first purchase keep NULL (both engines
    * agree NULL = no observation yet). Money as fixed-point cents
    * ([[cents]] discipline) so the filled values hash identically.
    * Scale: one shuffle on user_id; the running frame is a single
    * per-partition streaming pass holding ONE value of state per user —
    * no self-join, no second shuffle, and a year-long 100 TB event log
    * gap-fills in the same plan shape.
    */
  val q40GapFill = QueryDef(
    "q40_gap_fill",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("ts_us"), col("event_type"),
          when(col("event_type") === "purchase", cents(col("value")))
            .as("pc"))
        .withColumn("last_purchase_cents",
          last(col("pc"), ignoreNulls = true).over(w))
        .select("event_id", "user_id", "ts_us", "event_type",
          "last_purchase_cents")
    },
    Some("""
      SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
             last_value(CASE WHEN event_type = 'purchase'
                             THEN CAST(round(value * 100) AS BIGINT) END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_purchase_cents
      FROM events"""))

  /** SCD Type-2 interval build from the changelog — the other half of
    * the CDC family: q34 keeps only each key's LATEST state, this one
    * keeps the full validity history. Consecutive same-state runs per
    * user (ordered by the total (ts_us, event_id) key, the q34
    * granularity contract) collapse into one row carrying
    * [valid_from, valid_to) — the classic gaps-and-islands build every
    * warehouse dimension-history job runs; valid_to NULL marks the
    * currently-open interval.
    *
    * Scale: ONE shuffle on user_id serves both windows (change flags +
    * running island id share the same partitioning/ordering, and the
    * final lead() over islands re-uses it); the island aggregate holds
    * one row per run. Nothing is ever ordered globally and no state
    * outlives a partition sort — the same shape at 10⁹ users, where
    * user_id partitioning spreads the work and no per-user history is
    * large enough to spill a sort.
    */
  def scd2Of(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("ts_us"), col("event_id"))
      val wOrd = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"))
      val prev = lag(col("event_type"), 1).over(wOrd)
      val chg = when(prev.isNull || prev =!= col("event_type"), 1L)
        .otherwise(0L)
      ev.withColumn("island", sum(chg).over(wOrd))
        .groupBy(col("user_id"), col("island"))
        .agg(min(col("event_type")).as("event_type"),
          min(col("ts_us")).as("valid_from_us"),
          count(lit(1)).as("n_events"))
        .withColumn("valid_to_us",
          lead(col("valid_from_us"), 1).over(
            Window.partitionBy("user_id").orderBy("island")))
        .select("user_id", "event_type", "valid_from_us", "valid_to_us",
          "n_events")
  }

  val q41Scd2 = QueryDef(
    "q41_scd2_intervals",
    (s, dir) => scd2Of(Tables(s, dir, "events")),
    Some("""
      WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
        FROM events),
      c AS (
        SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w <> event_type
                       THEN 1 ELSE 0 END AS chg
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      i AS (
        SELECT *, sum(chg) OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id) AS island
        FROM c),
      g AS (
        SELECT user_id, island, min(event_type) AS event_type,
               min(ts_us) AS valid_from_us, count(*) AS n_events
        FROM i GROUP BY 1, 2)
      SELECT user_id, event_type, valid_from_us,
             lead(valid_from_us) OVER (PARTITION BY user_id
                                       ORDER BY island) AS valid_to_us,
             n_events
      FROM g"""))

  /** Per-user trailing-7-day rolling aggregates at every event — the
    * TIME-valued RANGE frame (`RANGE BETWEEN 6 days PRECEDING AND
    * CURRENT ROW` over epoch-micros), the feature-engineering staple
    * behind "activity in the last N days" model inputs. Distinct from
    * q18 (ROWS frame: last k rows) and q31 (peer-inclusive RANGE on a
    * value): here the frame is cut by a TIME OFFSET, so its row count
    * varies per row — exactly what ROWS frames cannot express.
    *
    * Determinism: the frame boundary is integer micros arithmetic, the
    * aggregates are count + integer-cents sum (order-independent), and
    * ts ties are RANGE peers on both engines — hash-exact replay.
    * Scale: one shuffle on user_id, one in-partition sort; Spark
    * evaluates the sliding frame incrementally (two moving endpoints),
    * never re-scanning the window per row.
    */
  def rollingWindowOf(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("ts_us"), cents(col("value")).as("c"))
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
      .rangeBetween(-6L * 86400 * 1000000, 0)
    ev.select(col("event_id"), col("user_id"), col("ts_us"),
      count(lit(1)).over(w).as("n_7d"),
      sum(col("c")).over(w).as("sum_cents_7d"))
  }

  val q42RollingWindow = QueryDef(
    "q42_rolling_window",
    (s, dir) => rollingWindowOf(Tables(s, dir, "events")),
    Some("""
      SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             count(*) OVER w AS n_7d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w
                  AS BIGINT) AS sum_cents_7d
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN 518400000000 PRECEDING AND CURRENT ROW)"""))

  /** Resample each user's purchase-value series onto the daily grid
    * with linear interpolation — the time-series regularization step
    * (financial bars, sensor alignment) that q40's LOCF only
    * approximates: grid points strictly inside a user's purchase span
    * get `v0 + (v1−v0)·(t−t0)/(t1−t0)` between the surrounding
    * events, in integer cents.
    *
    * Integer portability: Spark's `div` truncates toward zero while
    * DuckDB's `//` floors — they agree only on non-negative operands,
    * so the falling-segment case computes `v0 − ((v0−v1)·x div dt)`
    * with both factors positive (truncation toward v0 on both
    * engines). A grid point landing exactly on an event has
    * t0 = t1 = t (both carries see the same-instant event first);
    * the dt = 0 guard returns v0 outright.
    *
    * Shape: the grid explodes from each user's (min, max) bounds —
    * span/day rows per user, never a global calendar; prev/next
    * carries are the [[AsofJoin]] union trick run in BOTH directions
    * (one shuffle on user_id, two in-partition sorts); nothing joins
    * per grid point. At 100 TB this is the plan you want: the
    * interval-join alternative rescans each user's events once per
    * grid day.
    */
  val q43Resample = QueryDef(
    "q43_resample_interpolate",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val D = 86400000000L
      val p = Tables(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts div 1000").as("t"),
          cents(col("value")).as("v"))
      val grid = p.groupBy("user_id")
        .agg(min("t").as("t0"), max("t").as("t1"))
        .filter(expr(s"t0 div $D + 1 <= t1 div $D"))
        .select(col("user_id"),
          explode(sequence(expr(s"t0 div $D + 1"), expr(s"t1 div $D")))
            .as("k"))
        .select(col("user_id"), (col("k") * D).as("t"),
          lit(null).cast("long").as("v"), lit(1).as("tag"))
      val ev = p.withColumn("tag", lit(0))
      val u = ev.unionByName(grid)
      // events sort before grid points at the same instant in BOTH
      // directions, so an exact-hit grid point sees t0 = t1 = t
      val wPrev = Window.partitionBy("user_id")
        .orderBy(col("t").asc, col("tag").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy("user_id")
        .orderBy(col("t").desc, col("tag").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val boxed = when(col("tag") === 0,
        struct(col("t").as("et"), col("v").as("ev")))
      u.withColumn("prev", last(boxed, ignoreNulls = true).over(wPrev))
        .withColumn("nxt", last(boxed, ignoreNulls = true).over(wNext))
        .filter(col("tag") === 1)
        .select(col("user_id"), col("t").as("ts_us"),
          col("prev.ev").as("v0"), col("nxt.ev").as("v1"),
          expr("""CASE
              WHEN nxt.et = prev.et THEN prev.ev
              WHEN nxt.ev >= prev.ev THEN prev.ev +
                (nxt.ev - prev.ev) * (t - prev.et) div (nxt.et - prev.et)
              ELSE prev.ev -
                (prev.ev - nxt.ev) * (t - prev.et) div (nxt.et - prev.et)
            END""").as("v_cents"))
    },
    Some("""
      WITH p AS (
        SELECT user_id, epoch_us(ts) AS t,
               CAST(round(value * 100) AS BIGINT) AS v
        FROM events WHERE event_type = 'purchase'),
      b AS (
        SELECT user_id, min(t) AS t0, max(t) AS t1 FROM p GROUP BY 1
        HAVING min(t) // 86400000000 + 1 <= max(t) // 86400000000),
      grid AS (
        SELECT user_id,
               unnest(generate_series(t0 // 86400000000 + 1,
                                      t1 // 86400000000)) * 86400000000
                 AS t,
               CAST(NULL AS BIGINT) AS v, 1 AS tag
        FROM b),
      u AS (
        SELECT user_id, t, v, 0 AS tag FROM p
        UNION ALL SELECT * FROM grid),
      c AS (
        SELECT *,
               last_value(CASE WHEN tag = 0 THEN
                   struct_pack(et := t, ev := v) END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY t ASC, tag ASC
                       ROWS UNBOUNDED PRECEDING) AS prev,
               last_value(CASE WHEN tag = 0 THEN
                   struct_pack(et := t, ev := v) END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY t DESC, tag ASC
                       ROWS UNBOUNDED PRECEDING) AS nxt
        FROM u)
      SELECT user_id, t AS ts_us, prev.ev AS v0, nxt.ev AS v1,
             CASE
               WHEN nxt.et = prev.et THEN prev.ev
               WHEN nxt.ev >= prev.ev THEN prev.ev +
                 (nxt.ev - prev.ev) * (t - prev.et) // (nxt.et - prev.et)
               ELSE prev.ev -
                 (prev.ev - nxt.ev) * (t - prev.et) // (nxt.et - prev.et)
             END AS v_cents
      FROM c WHERE tag = 1"""))

  /** Week-over-week change report — the BI staple layered on a windowed
    * aggregate: weekly value-cents per event_type, each week comparing
    * itself to the type's previous week as a fixed-point ppm ratio
    * (`cur·10⁶ floor-div prev`, NULL for a type's first week or a
    * non-positive denominator). The lag window runs on the AGGREGATED
    * (type, week) rows — weeks × |types|, metadata-sized — so the
    * report costs one combine-enabled count shuffle plus a trivial
    * window, at any event volume.
    *
    * Signed-numerator portability (round-9 verdict #4, CORRECTED r13):
    * this environment's DuckDB `//` TRUNCATES toward zero (measured:
    * `-7 // 3 = -2`), exactly like Spark's `div` — the round-9 fix
    * assumed `//` floors and swapped in explicit floor division, which
    * would diverge by one on any negative refund-heavy week. Plain
    * `div` is the matching spelling; RelationalSpec pins the measured
    * truncation constant so a DuckDB semantics change (back) to floor
    * fails loudly instead of silently shifting ratios.
    *
    * Planted probe weeks (r13 ADVICE): the synthetic events table has
    * no refund-heavy week, so the trunc-vs-floor choice was pinned only
    * by Spark-side spec constants — the e2e oracle never exercised a
    * negative numerator. Both engines now UNION three literal weeks of
    * a synthetic 'wow_probe' type (+700, −701, +9 cents): the −701 week
    * divides −701000000 by 700 NON-exactly, so trunc (−1001428) and
    * floor (−1001429) give DIFFERENT hashes — a DuckDB semantics drift
    * back to floor now fails THIS key, end-to-end. The +9 week pins the
    * `prev > 0` guard (prev = −701 → NULL, not a division). Probe weeks
    * are negative so no real epoch week (~2900) can ever collide, and
    * the window partitions by event_type, so real types are untouched. */
  val q44WeekOverWeek = QueryDef(
    "q44_week_over_week",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val probe = Seq(
        ("wow_probe", -3L, 1L, 700L),
        ("wow_probe", -2L, 1L, -701L),
        ("wow_probe", -1L, 1L, 9L))
        .toDF("event_type", "wk", "n", "sum_cents")
      val weekly = Tables(s, dir, "events")
        .select(col("event_type"),
          expr("(ts div 1000) div 604800000000").as("wk"),
          cents(col("value")).as("c"))
        .groupBy("event_type", "wk")
        .agg(count(lit(1)).as("n"), sum("c").as("sum_cents"))
        .union(probe)
      val w = Window.partitionBy("event_type").orderBy("wk")
      weekly
        .withColumn("prev_cents", lag(col("sum_cents"), 1).over(w))
        .select(col("event_type"), col("wk"), col("n"), col("sum_cents"),
          when(col("prev_cents") > 0,
            expr("(sum_cents * 1000000) div prev_cents")).as("wow_ppm"))
    },
    Some("""
      WITH weekly AS (
        SELECT event_type, epoch_us(ts) // 604800000000 AS wk,
               count(*) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM events GROUP BY 1, 2
        UNION ALL
        SELECT v.event_type, CAST(v.wk AS BIGINT), CAST(v.n AS BIGINT),
               CAST(v.sum_cents AS BIGINT)
        FROM (VALUES ('wow_probe', -3, 1, 700),
                     ('wow_probe', -2, 1, -701),
                     ('wow_probe', -1, 1, 9))
             v(event_type, wk, n, sum_cents)),
      l AS (
        SELECT *, lag(sum_cents) OVER (PARTITION BY event_type
                                       ORDER BY wk) AS prev_cents
        FROM weekly)
      SELECT event_type, wk, n, sum_cents,
             CASE WHEN prev_cents > 0
                  THEN sum_cents * 1000000 // prev_cents END AS wow_ppm
      FROM l"""))

  val all: Seq[QueryDef] = Seq(
    q0Csv, q1Agg, q2Filter, q3Join, q4Broadcast, q5Window, q6SortLimit,
    q7Rollup, q8Distinct, q9Anti, q10SetOps, q11StringDate, q12Json,
    q13Array, q15Approx, q18Running, q19MapMath, q20Pivot, q21Subquery,
    q22Cube, q23GroupingSets, q24Ntile, q25Explode, q26Percentile,
    q27DateSpine, q28Profile, q29Unpivot, q30NullSafeJoin, q31RangeFrame,
    q32FullOuter, q33Lateral, q34LatestByKey, q35MergeUpsert,
    q36RankFamily, topkRankAuto, topkDenseRankAuto, q37NotInNulls,
    q38FilterListagg, q39EventTime, q40GapFill, q41Scd2, q42RollingWindow,
    q43Resample, q44WeekOverWeek, q45Variant, q46Collation)
}
