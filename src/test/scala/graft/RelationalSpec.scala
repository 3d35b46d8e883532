package graft

import graft.ops.Relational

class RelationalSpec extends SparkSpec {

  test("every relational query runs on sf0.001 and returns rows") {
    Relational.all.foreach { q =>
      val df = q.fn(spark, sf)
      assert(df.count() > 0, s"${q.name} returned no rows")
    }
  }

  test("q1_agg groups are the flag×status combinations") {
    val rows = Relational.q1Agg.fn(spark, sf).collect()
    assert(rows.length >= 4)
    val flags = rows.map(_.getString(0)).toSet
    assert(flags.subsetOf(Set("A", "N", "R")))
  }

  test("q6_sort_limit is sorted descending by price") {
    val prices = Relational.q6SortLimit.fn(spark, sf)
      .collect().map(_.getDouble(2))
    assert(prices.length == 100)
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }

  test("q9_semi_anti partitions the customer table") {
    val rows = Relational.q9Anti.fn(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = Tables(spark, sf, "customer").count()
    assert(rows("with_orders") + rows("no_orders") == total)
  }

  test("csv_roundtrip preserves all nation rows") {
    val got = Relational.q0Csv.fn(spark, sf).collect()
    assert(got.length == Tables(spark, sf, "nation").count())
  }

  test("salted join result equals plain join result") {
    import org.apache.spark.sql.functions._
    val li = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val ords = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
    val salted = ops.Skew.saltedJoin(li, ords, "l_orderkey", 8)
      .groupBy("l_orderkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plain = li.join(ords, "l_orderkey")
      .groupBy("l_orderkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    // the join key carries the salt: one hot key fans out over 8
    // shuffle partitions
    val plan = ops.Skew.saltedJoin(li, ords, "l_orderkey", 8)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("__salt"), plan.take(500))
  }

  test("asof join: <= semantics, null before first snapshot, per-key isolation") {
    val sp = spark
    import sp.implicits._
    val left = Seq((1L, 10L), (1L, 20L), (1L, 5L), (2L, 100L))
      .toDF("k", "ts")
    val right = Seq((1L, 10L, "a"), (1L, 15L, "b"), (2L, 200L, "z"))
      .toDF("k", "ts", "v")
    val got = ops.AsofJoin.asofJoin(left, right, "k", "ts", "v", "asof")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> Option(r.getString(2)))
      .toMap
    assert(got == Map(
      (1L, 5L) -> None,        // before first snapshot
      (1L, 10L) -> Some("a"),  // exactly-equal ts IS visible (<=)
      (1L, 20L) -> Some("b"),  // latest at-or-before wins
      (2L, 100L) -> None))     // other key's snapshots invisible
  }

  test("forward asof join: >= semantics, null after last snapshot, " +
      "simultaneous snapshot visible") {
    val sp = spark
    import sp.implicits._
    val left = Seq((1L, 10L), (1L, 20L), (1L, 5L), (1L, 16L), (2L, 100L))
      .toDF("k", "ts")
    val right = Seq((1L, 10L, "a"), (1L, 15L, "b"), (2L, 50L, "z"))
      .toDF("k", "ts", "v")
    val got = ops.AsofJoin
      .asofJoinForward(left, right, "k", "ts", "v", "next")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> Option(r.getString(2)))
      .toMap
    assert(got == Map(
      (1L, 5L) -> Some("a"),   // earliest at-or-after wins
      (1L, 10L) -> Some("a"),  // exactly-equal ts IS visible (>=)
      (1L, 16L) -> None,       // past the last snapshot (15)
      (1L, 20L) -> None,       // likewise
      (2L, 100L) -> None))     // other key's future is behind this ts
  }

  test("forward asof join: a null-valued next snapshot still wins over " +
      "a later one") {
    val sp = spark
    import sp.implicits._
    val left = Seq((1L, 3L)).toDF("k", "ts")
    val right = Seq((1L, 5L, Option.empty[String]), (1L, 10L, Option("late")))
      .toDF("k", "ts", "v")
    val got = ops.AsofJoin.asofJoinForward(left, right, "k", "ts", "v", "next")
      .collect().map(r => Option(r.getString(2)))
    // ts=5 is the earliest at-or-after 3; its null value must not be
    // skipped in favor of the later ts=10 value
    assert(got.toSeq == Seq(None))
  }

  test("auto range-join rewrite equals the unrewritten join on a signed " +
      "domain, including empty and point-sized intervals") {
    import org.apache.spark.sql.functions.col
    val sp = spark
    import sp.implicits._
    // signed points: truncating cell division must stay monotone and
    // the residual filter must fix every edge
    val pts = (-300L to 300L).map(i => i * 7L).toDF("pt")
    val ivs = Seq((-2000L, -1900L, 1), (-50L, 50L, 2), (0L, 1L, 3),
      (100L, 100L, 4), (1999L, 2100L, 5)).toDF("lo", "hi", "id")
    def run(): Set[(Int, Long)] =
      pts.join(ivs, col("pt") >= col("lo") && col("pt") < col("hi"))
        .select("id", "pt").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet
    spark.conf.unset(graft.plans.RangeJoinRewrite.BinConf)
    val brute = run()
    // REVERSED orientation control: intervals on the LEFT, points on
    // the RIGHT
    val revBrute =
      ivs.join(pts, col("pt") >= col("lo") && col("pt") < col("hi"))
        .select("id", "pt").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet
    try withRules(graft.plans.RangeJoinRewrite) {
      spark.conf.set(graft.plans.RangeJoinRewrite.BinConf, "64")
      val rewritten = run()
      assert(rewritten == brute,
        s"missing=${(brute -- rewritten).take(3)} extra=${(rewritten -- brute).take(3)}")
      assert(brute.nonEmpty)
      // empty interval (4) matches nothing under either plan
      assert(!brute.exists(_._1 == 4))
      // REVERSED orientation — exercises the rule's ptOnLeft=false
      // branch and pins that output column order survives the rewrite
      val revRewritten =
        ivs.join(pts, col("pt") >= col("lo") && col("pt") < col("hi"))
          .select("id", "pt").collect()
          .map(r => (r.getInt(0), r.getLong(1))).toSet
      assert(revRewritten == revBrute && revBrute == brute)
      // null bounds: the cell becomes null and the equi-join drops the
      // row, exactly like the original null-rejecting comparison
      val ivsNull = Seq((Option(-50L), Option(50L), 2),
        (Option.empty[Long], Option(50L), 6),
        (Option(-50L), Option.empty[Long], 7)).toDF("lo", "hi", "id")
      val nullGot =
        pts.join(ivsNull, col("pt") >= col("lo") && col("pt") < col("hi"))
          .select("id").distinct().collect().map(_.getInt(0)).toSet
      assert(nullGot == Set(2), s"null-bound intervals must match nothing: $nullGot")
    } finally spark.conf.unset(graft.plans.RangeJoinRewrite.BinConf)
  }

  test("range join equals brute-force inequality join") {
    val sp = spark
    import sp.implicits._
    val pts = (0L to 100L).map(i => i * 7L).toDF("pt")
    val ivs = Seq((0L, 50L, 1), (40L, 200L, 2), (600L, 700L, 3), (699L, 700L, 4))
      .toDF("lo", "hi", "id")
    val got = ops.RangeJoin.rangeJoin(pts, ivs, "pt", "lo", "hi", 64)
      .select("id", "pt").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val brute = pts.crossJoin(ivs)
      .filter(org.apache.spark.sql.functions.col("pt") >=
        org.apache.spark.sql.functions.col("lo") &&
        org.apache.spark.sql.functions.col("pt") <
          org.apache.spark.sql.functions.col("hi"))
      .select("id", "pt").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got == brute)
    assert(brute.nonEmpty)
  }

  test("asof join: a null-valued snapshot still wins over an older one") {
    val sp = spark
    import sp.implicits._
    val left = Seq((1L, 12L)).toDF("k", "ts")
    val right = Seq((1L, 5L, Option("old")), (1L, 10L, Option.empty[String]))
      .toDF("k", "ts", "v")
    val got = ops.AsofJoin.asofJoin(left, right, "k", "ts", "v", "asof")
      .collect().map(r => Option(r.getString(2)))
    // the ts=10 snapshot is the latest at-or-before 12; its value is
    // null and must NOT be skipped in favor of the stale ts=5 value
    assert(got.toSeq == Seq(None))
  }

  test("percentile_2pass: histogram select equals sorted ranks under ties and skew") {
    val sp = spark
    import sp.implicits._
    // heavy ties (the same cents value repeated), values straddling
    // bucket boundaries, and a hot bucket holding most of the mass —
    // every shape the cumulative walk and in-bucket offset must survive
    val vals: Seq[Long] =
      Seq.fill(500)(65536L) ++ // exactly on a bucket boundary
        Seq.fill(300)(65535L) ++ // last value of bucket 0
        (0L until 200L).map(i => 131072L + i) ++ // spread in bucket 2
        Seq.fill(7)(3L)
    for (parts <- Seq(1, 7)) {
      val got = ops.Sketches
        .percentile2PassOf(vals.toDF("c").repartition(parts))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val sorted = vals.sorted
      val n = sorted.size.toLong
      val want = Map(
        "p25" -> ((n + 3) / 4, sorted(((n + 3) / 4 - 1).toInt)),
        "p50" -> ((n + 1) / 2, sorted(((n + 1) / 2 - 1).toInt)),
        "p75" -> ((3 * n + 3) / 4, sorted(((3 * n + 3) / 4 - 1).toInt)))
      assert(got == want, s"parts=$parts got=$got want=$want")
    }
  }

  test("funnel: strict ordering enforced, stalls are nulls, chain monotone") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    // u1 completes in order; u2 clicked BEFORE viewing (stalls at view);
    // u3 never clicked (purchase without click must not count)
    val ev = Seq(
      (1L, "view", 100L), (1L, "click", 200L), (1L, "purchase", 300L),
      (2L, "click", 50L), (2L, "view", 100L),
      (3L, "view", 100L), (3L, "purchase", 300L),
      // u4: click at the SAME ns as view — strictly-later excludes it,
      // the later click advances the funnel
      (4L, "view", 100L), (4L, "click", 100L), (4L, "click", 150L))
      .toDF("user_id", "event_type", "ts")
    val got = graft.ops.Funnel.funnelOf(ev).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3))).toSet
    assert(got == Set(
      (1L, 100L, 200L, 300L),
      (2L, 100L, null, null),
      (3L, 100L, null, null),
      (4L, 100L, 150L, null)), s"got $got")
    // full-data invariant: every emitted chain is strictly increasing
    val full = graft.ops.Funnel.funnelOf(Tables(spark, sf, "events"))
    assert(full.filter(col("t_click").isNotNull &&
      col("t_click") <= col("t_view")).count() == 0)
    assert(full.filter(col("t_purchase").isNotNull &&
      col("t_purchase") <= col("t_click")).count() == 0)
  }

  test("retention: offset-0 equals cohort size, later offsets never exceed it") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    val wk = graft.ops.Funnel.WeekNs
    // cohort week 0: u1 (active wks 0,1,2), u2 (wk 0 only);
    // cohort week 1: u3 (active wks 1,3)
    val ev = Seq(
      (1L, 0L), (1L, wk + 5), (1L, 2 * wk + 5),
      (2L, 10L),
      (3L, wk + 1), (3L, 3 * wk + 1))
      .toDF("user_id", "ts")
    val got = graft.ops.Funnel.retentionOf(ev).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == Map(
      (0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 2L) -> 1L,
      (1L, 0L) -> 1L, (1L, 2L) -> 1L), s"got $got")
    // full-data invariants: offsets non-negative, no offset beats its
    // cohort's week-0 count
    val full = graft.ops.Funnel.retentionOf(Tables(spark, sf, "events"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    assert(full.forall(_._1._2 >= 0))
    val base = full.collect { case ((c, 0L), n) => c -> n }.toMap
    assert(full.forall { case ((c, _), n) => n <= base(c) },
      "a later offset outnumbered its cohort")
  }

  test("pagerank: fixed-point mass bounds, node set, partition-invariant") {
    import graft.ops.PageRank
    val edges = PageRank.tradeEdges(spark, sf)
    val nodes = edges.select("src").distinct().count()
    val run1 = PageRank.pagerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(run1.size == nodes, "one score per node in the trade graph")
    // integer truncation only LOSES mass: total ≤ N·S, and every node
    // keeps at least the teleport floor
    val total = run1.values.sum
    assert(total <= nodes * PageRank.Scale)
    assert(run1.values.forall(_ >= PageRank.Scale * 15 / 100))
    // symmetric bipartite graph: some node must exceed the uniform
    // score (hubs exist), else the iteration did nothing
    assert(run1.values.exists(_ > PageRank.Scale),
      "no node above uniform mass — propagation broken?")
    // DIV-truncation order is pinned per-edge, so the result cannot
    // depend on partitioning
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val run7 = PageRank.pagerank(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(run7 == run1, "scores changed with partition count")
    } finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  test("q43_resample_interpolate: grid values stay inside their segment " +
      "and replay the integer interpolation") {
    val rows = Relational.q43Resample.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    val purchases = Tables(spark, sf, "events")
      .filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
      .selectExpr("user_id", "ts div 1000 AS t",
        "CAST(round(value * 100) AS LONG) AS v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    rows.foreach { case (u, t, v0, v1, v) =>
      assert(t % 86400000000L == 0, "grid points are day boundaries")
      assert(v >= math.min(v0, v1) && v <= math.max(v0, v1),
        s"user $u at $t: interpolant $v escapes [$v0, $v1]")
      // replay against the user's actual surrounding events
      val mine = purchases(u)
      val (t0, ev0) = mine.filter(_._2 <= t).maxBy(_._2) match {
        case (_, a, b) => (a, b) }
      val (t1, ev1) = mine.filter(_._2 >= t).minBy(_._2) match {
        case (_, a, b) => (a, b) }
      assert(ev0 == v0 && ev1 == v1, s"user $u at $t: wrong segment")
      val expect =
        if (t1 == t0) ev0
        else if (ev1 >= ev0) ev0 + (ev1 - ev0) * (t - t0) / (t1 - t0)
        else ev0 - (ev0 - ev1) * (t - t0) / (t1 - t0)
      assert(v == expect, s"user $u at $t: $v != $expect")
    }
  }

  test("attribution_last_touch: credited click is the user's latest " +
      "strictly-earlier click within the lookback") {
    val events = Tables(spark, sf, "events")
      .selectExpr("user_id", "event_type", "event_id", "ts div 1000 AS ts_us")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val clicks = events.filter(_._2 == "click")
    val got = graft.ops.Funnel.lastTouchOf(Tables(spark, sf, "events"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(got.length == events.count(_._2 == "purchase"),
      "every purchase must appear exactly once")
    val lookback = 30L * 60 * 1000000
    got.foreach { case (pid, user, clickId) =>
      val pts = events.find(e => e._3 == pid).get._4
      val eligible = clicks.filter(c =>
        c._1 == user && c._4 < pts && c._4 >= pts - lookback)
      clickId match {
        case None => assert(eligible.isEmpty,
          s"purchase $pid left organic despite ${eligible.take(2)}")
        case Some(cid) =>
          val best = eligible.maxBy(c => (c._4, c._3))
          assert(cid == best._3,
            s"purchase $pid credited $cid, expected ${best._3}")
      }
    }
  }

  test("attribution_position_multi: weights sum to exactly 1e6 ppm per " +
      "purchase across path lengths") {
    val sp = spark
    import sp.implicits._
    val M = 60L * 1000000 // a minute in micros→nanos handled below
    // hand-built paths: users with 1, 2, 4, 5 clicks before one purchase
    // (5 middles split 200000//3 with the remainder on the last touch)
    def ev(id: Long, user: Long, tMin: Long, tpe: String) =
      (id, tMin * M * 1000, user, tpe, 0.0, "{}")
    val rows =
      (1 to 1).map(i => ev(10 + i, 1, 10 + i, "click")) ++ Seq(ev(19, 1, 20, "purchase")) ++
      (1 to 2).map(i => ev(20 + i, 2, 10 + i, "click")) ++ Seq(ev(29, 2, 20, "purchase")) ++
      (1 to 4).map(i => ev(30 + i, 3, 10 + i, "click")) ++ Seq(ev(39, 3, 20, "purchase")) ++
      (1 to 5).map(i => ev(40 + i, 4, 10 + i, "click")) ++ Seq(ev(49, 4, 20, "purchase")) ++
      // a click OUTSIDE the 6 h lookback never shares credit
      Seq(ev(51, 5, -400, "click"), ev(52, 5, 10, "click"), ev(59, 5, 20, "purchase"))
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.ops.Funnel.multiTouchOf(df).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3), r.getLong(4), r.getLong(5)))
    val byPurchase = got.groupBy(_._1)
    assert(byPurchase.keySet == Set(19L, 29L, 39L, 49L, 59L))
    byPurchase.foreach { case (pid, ts) =>
      assert(ts.map(_._5).sum == 1000000L, s"purchase $pid ppm sum")
      assert(ts.map(_._3).sorted.toSeq == (1 to ts.length),
        s"purchase $pid ranks not contiguous")
    }
    assert(byPurchase(19L).map(_._5).toSeq == Seq(1000000L))
    assert(byPurchase(29L).map(_._5).sorted.toSeq == Seq(500000L, 500000L))
    assert(byPurchase(39L).sortBy(_._3).map(_._5).toSeq ==
      Seq(400000L, 100000L, 100000L, 400000L))
    assert(byPurchase(49L).sortBy(_._3).map(_._5).toSeq ==
      Seq(400000L, 66666L, 66666L, 66666L, 400002L))
    // the stale click is excluded; only the in-window click is credited
    assert(byPurchase(59L).map(_._2).toSeq == Seq(52L))
  }

  test("event_new_vs_returning: news sum to the user base, day0 all new") {
    val rows = graft.ops.Funnel.newVsReturningOf(Tables(spark, sf, "events"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val users = Tables(spark, sf, "events")
      .select("user_id").distinct().count()
    assert(rows.map(_._3).sum == users,
      "every user is new exactly once")
    rows.foreach { case (d, active, nw, ret) =>
      assert(active == nw + ret, s"day $d split doesn't add up")
    }
    val first = rows.minBy(_._1)
    assert(first._4 == 0, "nobody can return on the first day")
  }

  test("wedgeParts sizes the wedge join from the edge count: session " +
      "floor at small m, ~75k edges/partition past it, sane cap") {
    import graft.ops.Triangles.wedgeParts
    // sf0.1 witness graph (400k edges) and full graph (1.2M): session
    // default — the bench plan is unchanged by the auto-sizing
    assert(wedgeParts(400465L, 32) == 32)
    assert(wedgeParts(1196000L, 32) == 32)
    // the measured r11 knee point: 16x full graph (19.1M edges) must
    // land at the 256-partition operating point that restored linear
    // growth (SCALE.md deep-growth table)
    assert(wedgeParts(19136000L, 32) == 256)
    // partitions keep tracking data and the cap is only a sanity bound
    assert(wedgeParts(19136000L * 10, 32) == 2552)
    assert(wedgeParts(Long.MaxValue / 4, 32) == (1 << 18))
    assert(wedgeParts(1L, 32) == 32 && wedgeParts(0L, 32) == 32)
  }

  test("graph_triangles: oriented count equals the naive id-ordered count") {
    import graft.ops.Triangles
    val edges = Triangles.coPurchaseEdges(spark, sf).persist()
    val got = Triangles.triangleList(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // each triangle appears exactly once and its three nodes are distinct
    assert(got.length == got.map(t => Set(t._1, t._2, t._3)).distinct.length)
    assert(got.forall(t => Set(t._1, t._2, t._3).size == 3))
    // naive driver-side reference: id-ordered a<b<c enumeration
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val naive = for {
      (a, bs) <- adj.toSeq
      b <- bs
      c <- adj.getOrElse(b, Set.empty)
      if es.contains((a, c))
    } yield Set(a, b, c)
    assert(got.map(t => Set(t._1, t._2, t._3)).toSet == naive.toSet,
      "oriented enumeration diverges from naive")
    assert(got.length == naive.length)
    edges.unpersist()
  }

  test("q41_scd2_intervals: per-user intervals tile the timeline exactly") {
    val rows = Relational.q41Scd2.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4)))
    val events = Tables(spark, sf, "events")
      .selectExpr("user_id", "event_type", "ts div 1000 AS ts_us", "event_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    rows.groupBy(_._1).foreach { case (u, ivs) =>
      val ord = ivs.sortBy(_._3)
      // exactly one open (current) interval, and it is the last one
      assert(ord.init.forall(_._4.isDefined) && ord.last._4.isEmpty,
        s"user $u: open intervals misplaced")
      // half-open tiling: each valid_to equals the next valid_from
      ord.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4.contains(b._3), s"user $u: gap between $a and $b")
          // adjacent islands must differ in state or they'd be one island
          assert(a._2 != b._2, s"user $u: unmerged adjacent state ${a._2}")
        case _ => ()
      }
      // interval event counts partition the user's changelog
      val mine = events.filter(_._1 == u)
      assert(ord.map(_._5).sum == mine.length,
        s"user $u: interval counts don't cover the changelog")
      // replay: collapsing the ordered event stream gives the same runs
      val runs = mine.sortBy(e => (e._3, e._4)).map(_._2)
        .foldLeft(List.empty[(String, Long)]) {
          case ((t, n) :: rest, e) if t == e => (t, n + 1) :: rest
          case (acc, e) => (e, 1L) :: acc
        }.reverse
      assert(ord.map(i => (i._2, i._5)).toSeq == runs,
        s"user $u: runs mismatch")
    }
  }

  test("integer division semantics: Spark `div` truncates toward zero " +
      "on planted negatives — the spelling that matches this DuckDB's " +
      "`//` (measured -7 // 3 = -2), so q44's ppm ratio agrees on a " +
      "refund-heavy week") {
    // r13 correction of the round-9 assumption: this environment's
    // DuckDB `//` TRUNCATES (verified directly against the oracle's
    // duckdb: SELECT -7 // 3, CAST(-7 AS HUGEINT) // 3 → -2, -2), so
    // the engine must use plain `div`, NOT explicit floor division —
    // floorDivSql would diverge by one on every negative numerator.
    // These constants pin Spark's side; if DuckDB ever switches to
    // floor, the q44/url_domain_stats oracles fail loudly and this
    // comment is the map.
    val sp = spark
    import sp.implicits._
    val cases = Seq((-7L, 3L), (-6L, 3L), (-1L, 2L), (7L, 3L), (0L, 5L),
      (-1000001L, 1000000L), (Long.MinValue / 4, 3L))
    val got = cases.toDF("a", "b")
      .selectExpr("a div b")
      .collect().map(_.getLong(0)).toSeq
    val want = cases.map { case (a, b) => a / b } // JVM / truncates
    assert(got == want, s"got $got want $want")
    assert(got.head == -2L && Math.floorDiv(-7L, 3L) == -3L,
      "division semantics drifted: re-audit every fixed-point div site")
    // meanMilli: exact trunc(sum*1000/n) WITHOUT the sum*1000 long
    // overflow — signed sums and a sum whose naive product wraps
    val mm = Seq((-7L, 3L), (7L, 3L), (0L, 5L), (-1L, 7L),
      (Long.MaxValue / 2, 1000000L), (-(Long.MaxValue / 2), 999999L))
    val mmGot = mm.toDF("s", "n")
      .select(graft.ops.Relational.meanMilli("s", "n").as("m"))
      .collect().map(_.getLong(0)).toSeq
    val mmWant = mm.map { case (s, n) =>
      (BigInt(s) * 1000 / n).toLong } // BigInt / truncates toward zero
    assert(mmGot == mmWant, s"got $mmGot want $mmWant")
  }

  test("AvroIO round-trips nulls, binary, empty partitions, and empty " +
      "strings type-exactly; unsupported types and empty dirs are loud") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType),
      StructField("b", BinaryType),
      StructField("d", DoubleType)))
    val rows = Seq(
      Row(1L, "a", Array[Byte](1, 2, 3), 1.5),
      Row(2L, null, null, null),
      Row(3L, "", Array.empty[Byte], -0.0))
    // 5 partitions over 3 rows: empty partitions must write nothing and
    // read back nothing (the per-partition writer skips them)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 5), schema)
    val dir = java.nio.file.Files.createTempDirectory("graft_avro")
      .toString
    graft.sources.AvroIO.write(df, dir)
    val back = graft.sources.AvroIO.read(spark, dir, schema)
    assert(back.schema == schema)
    def key(r: Row) = (r.getLong(0),
      if (r.isNullAt(1)) null else r.getString(1),
      if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2).toSeq,
      if (r.isNullAt(3)) null else r.getDouble(3))
    assert(back.collect().map(key).toSet == rows.map(key).toSet)
    // a second write REPLACES prior content (mode=overwrite semantics)
    graft.sources.AvroIO.write(df.limit(1), dir)
    assert(graft.sources.AvroIO.read(spark, dir, schema).count() == 1)
    // one-level arrays are supported (r13 verdict #4) — including
    // null elements and a null array through the union schemas
    val aschema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("vec", ArrayType(FloatType, containsNull = true))))
    val arows = Seq(
      Row(1L, Seq(1.5f, -2.25f, 0f)),
      Row(2L, Seq(null, 3.75f)),
      Row(3L, null),
      Row(4L, Seq.empty[Float]))
    val adf = spark.createDataFrame(
      spark.sparkContext.parallelize(arows, 2), aschema)
    val adir = java.nio.file.Files.createTempDirectory("graft_avro_a")
      .toString
    graft.sources.AvroIO.write(adf, adir)
    val aback = graft.sources.AvroIO.read(spark, adir, aschema)
    assert(aback.schema == aschema)
    def akey(r: Row) = (r.getLong(0),
      if (r.isNullAt(1)) null else r.getSeq[Any](1))
    assert(aback.collect().map(akey).toSet == arows.map(akey).toSet)
    // unsupported type: loud at schema build, naming the column —
    // NESTED arrays stay out of scope (parquet/orc witness deep
    // nesting; the Avro surface is scalars + one-level arrays)
    val e = intercept[IllegalArgumentException](
      graft.sources.AvroIO.avroSchema(StructType(Seq(
        StructField("nested", ArrayType(ArrayType(LongType)))))))
    assert(e.getMessage.contains("nested"))
    // no files: loud, naming the dir
    val empty = java.nio.file.Files.createTempDirectory("graft_avro_e")
      .toString
    val e2 = intercept[IllegalArgumentException](
      graft.sources.AvroIO.read(spark, empty, schema))
    assert(e2.getMessage.contains(empty))
  }
}
