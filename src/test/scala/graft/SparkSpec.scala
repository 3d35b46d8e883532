package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Shared session (one per suite, lazily created) configured like the
  * driver's Verify session, except for the whole-plan rewrites: both
  * are registered (as [[GraftSession.get]] registers them) but listed
  * in `spark.sql.optimizer.excludedRules`, so every test pins the
  * rules-off plan unless it opts in with [[withRules]].
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` with `rules` taken out of the session's exclusion list;
    * the prior exclusion is restored afterwards, on exception too. */
  def withRules[T](rules: Rule[LogicalPlan]*)(body: => T): T = {
    val key = SQLConf.OPTIMIZER_EXCLUDED_RULES.key
    val prior = spark.conf.getOption(key)
    val lifted = rules.map(_.ruleName).toSet
    val rest = prior.toSeq.flatMap(_.split(",")).map(_.trim)
      .filter(n => n.nonEmpty && !lifted(n))
    if (rest.isEmpty) spark.conf.unset(key)
    else spark.conf.set(key, rest.mkString(","))
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

object SparkSpec {
  val graftRules: Seq[Rule[LogicalPlan]] =
    Seq(graft.plans.TopKRewrite, graft.plans.RangeJoinRewrite)

  /** The suite's posture: both rewrites excluded. Tests that run the
    * harness conf policy (which lifts the exclusion) call this after. */
  def excludeGraftRules(s: SparkSession): Unit =
    s.conf.set(SQLConf.OPTIMIZER_EXCLUDED_RULES.key,
      graftRules.map(_.ruleName).mkString(","))

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.TopKRewrite.ensureRegistered(s)
    graft.plans.RangeJoinRewrite.ensureRegistered(s)
    excludeGraftRules(s)
    s
  }
}
