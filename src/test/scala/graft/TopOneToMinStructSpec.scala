package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.TopOneToMinStruct

/** The top-1-per-key rewrite: plan shape + result equivalence against
  * the un-rewritten window form, and the safety bail-outs. */
class TopOneToMinStructSpec extends GraftSuite {

  /** Session with the rule installed (newSession shares the context
    * but owns its experimental conf — base suites stay unaffected). */
  private lazy val opt: SparkSession = {
    val s = spark.newSession()
    s.experimental.extraOptimizations = Seq(TopOneToMinStruct)
    s
  }

  private def top1(s: SparkSession): DataFrame = {
    val w = Window.partitionBy("l_orderkey")
      .orderBy(col("l_extendedprice"), col("l_linenumber"))
    Tables.lineitem(s, sf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "rn")
  }

  private def hasWindow(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect { case w: LWindow => w }.nonEmpty
  private def hasAggregate(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.nonEmpty

  test("rewrites rn=1 to an aggregation and drops the window") {
    val df = top1(opt)
    assert(!hasWindow(df), df.queryExecution.optimizedPlan.toString)
    assert(hasAggregate(df), df.queryExecution.optimizedPlan.toString)
  }

  test("rewritten results equal the window form exactly") {
    val expect = top1(spark).orderBy("l_orderkey").collect()
    val got = top1(opt).orderBy("l_orderkey").collect()
    assert(got.toSeq == expect.toSeq)
    assert(got.nonEmpty)
  }

  test("bails out on descending order") {
    val w = Window.partitionBy("l_orderkey")
      .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
    val df = Tables.lineitem(opt, sf)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    assert(hasWindow(df), "desc ordering must not be rewritten")
  }

  test("bails out on rn <= k for k > 1") {
    val w = Window.partitionBy("l_orderkey")
      .orderBy(col("l_extendedprice"), col("l_linenumber"))
    val df = Tables.lineitem(opt, sf)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
    assert(hasWindow(df), "top-k (k>1) must not be rewritten")
  }

  test("bails out on a global (unpartitioned) top-1") {
    val w = Window.orderBy(col("l_extendedprice"), col("l_orderkey"))
    val df = Tables.lineitem(opt, sf)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    assert(hasWindow(df), "empty partition spec must not be rewritten")
  }

  test("kill switch disables the rewrite without uninstalling") {
    SessionScope.withConf(opt)(TopOneToMinStruct.EnabledKey -> "false") {
      assert(hasWindow(top1(opt)), "disabled rule must leave the window")
    }
    assert(!hasWindow(top1(opt)), "re-enabled after unset")
  }

  test("extra filter conjuncts survive the rewrite") {
    val w = Window.partitionBy("l_orderkey")
      .orderBy(col("l_extendedprice"), col("l_linenumber"))
    def q(s: SparkSession) = Tables.lineitem(s, sf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("l_quantity") > 25)
      .select("l_orderkey", "l_extendedprice", "l_quantity")
    val expect = q(spark).orderBy("l_orderkey").collect()
    val got = q(opt).orderBy("l_orderkey").collect()
    assert(got.toSeq == expect.toSeq)
  }
}
