package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Range join — points matched to the intervals containing them (the
  * second operator the builder brief names as missing from Spark,
  * which plans a raw inequality join as a nested-loop product). Grid
  * bucketing turns it into an equi-join: intervals explode to the grid
  * cells they overlap, points map to their cell, the join key is the
  * cell, and a residual exact filter removes edge false-positives.
  * Scale: shuffle ∝ points + interval-cell copies (intervals longer
  * than the grid cost more copies — pick the cell width near the
  * median interval length); never |points|×|intervals|.
  */
object RangeJoin {

  /** @param points    frame with a numeric `pt` column
    * @param intervals frame with numeric `lo`/`hi` columns ([lo, hi))
    * @param cellWidth grid cell width (same unit as pt)
    */
  def rangeJoin(points: DataFrame, intervals: DataFrame, pt: String,
      lo: String, hi: String, cellWidth: Long): DataFrame = {
    require(cellWidth > 0)
    val p = points.withColumn("__cell", floor(col(pt) / cellWidth))
    val iv = intervals.withColumn("__cell",
      explode(sequence(floor(col(lo) / cellWidth),
        floor((col(hi) - 1) / cellWidth))))
    p.join(iv, "__cell")
      .filter(col(pt) >= col(lo) && col(pt) < col(hi))
      .drop("__cell")
  }

  /** Driver-verified witness: 30-minute windows centered on every 50th
    * event; count the events each window contains. The oracle is
    * DuckDB's plain inequality join (its IEJoin — an independent
    * implementation); every window contains at least its own center
    * event, so no empty-group asymmetry.
    */
  val rangeCount = QueryDef(
    "range_join",
    (s, dir) => {
      val halfHourUs = 1800000000L
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), expr("ts div 1000").as("tsu"))
      val iv = ev.filter(col("event_id") % 50 === 0)
        .select(col("event_id").as("iv_id"),
          (col("tsu") - halfHourUs).as("lo"),
          (col("tsu") + halfHourUs).as("hi"))
      rangeJoin(ev, iv, "tsu", "lo", "hi", cellWidth = halfHourUs)
        .groupBy("iv_id")
        .agg(count(lit(1)).as("n_events"))
    },
    Some("""
      WITH iv AS (
        SELECT event_id AS iv_id,
               epoch_us(ts) - 1800000000 AS lo,
               epoch_us(ts) + 1800000000 AS hi
        FROM events WHERE event_id % 50 = 0),
      ev AS (SELECT event_id, epoch_us(ts) AS tsu FROM events)
      SELECT iv_id, count(*) AS n_events
      FROM iv JOIN ev ON ev.tsu >= iv.lo AND ev.tsu < iv.hi
      GROUP BY 1"""))

  /** The SAME query as [[rangeCount]], but written as the PLAIN
    * inequality join a user would naturally write — no manual grid —
    * and optimized by the injected
    * [[graft.plans.RangeJoinRewrite]] rule with the bin AUTO-DERIVED
    * (round-10 punch #6: the manual binSize knob is gone; the rule
    * proves the interval span statically from the shared `tsu ± c`
    * base and picks bin = span, 2 cells per interval). PlanSpec pins
    * that the rewrite actually fires (no nested-loop join in the
    * physical plan); this key proves it end-to-end against the same
    * DuckDB IEJoin oracle. The key sets no conf and registers no rule:
    * the rewrite fires wherever the session registered it
    * ([[graft.GraftSession.get]], `GraftExtensions`), and the plain
    * join answers correctly where it did not. Always-on is safe by
    * design (the rule only touches inner joins with NO equi key and
    * BOTH range bounds, every path bounded: static cap / skip /
    * overflow bucket) — the rules-on soak proves that suite-wide.
    */
  val rangeCountAuto = QueryDef(
    "range_join_auto",
    (s, dir) => {
      val halfHourUs = 1800000000L
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), expr("ts div 1000").as("tsu"))
      val iv = ev.filter(col("event_id") % 50 === 0)
        .select(col("event_id").as("iv_id"),
          (col("tsu") - halfHourUs).as("lo"),
          (col("tsu") + halfHourUs).as("hi"))
      ev.join(iv, col("tsu") >= col("lo") && col("tsu") < col("hi"))
        .groupBy("iv_id")
        .agg(count(lit(1)).as("n_events"))
    },
    Some("""
      WITH iv AS (
        SELECT event_id AS iv_id,
               epoch_us(ts) - 1800000000 AS lo,
               epoch_us(ts) + 1800000000 AS hi
        FROM events WHERE event_id % 50 = 0),
      ev AS (SELECT event_id, epoch_us(ts) AS tsu FROM events)
      SELECT iv_id, count(*) AS n_events
      FROM iv JOIN ev ON ev.tsu >= iv.lo AND ev.tsu < iv.hi
      GROUP BY 1"""))

  val all: Seq[QueryDef] = Seq(rangeCount, rangeCountAuto)
}
