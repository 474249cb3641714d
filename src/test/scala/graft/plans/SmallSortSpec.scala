package graft.plans

import graft.{SparkSpec, Tables}
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Range, Repartition}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** [[SmallSort]]: a global ORDER BY over an input within
  * `spark.sql.autoBroadcastJoinThreshold` sorts in one task, with no
  * range exchange (no sampling job, no range stage) and the same rows in
  * the same order; every other Sort keeps Spark's plan.
  */
class SmallSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def withThreshold[T](v: String)(body: => T): T = {
    val old = spark.conf.getOption(Threshold)
    spark.conf.set(Threshold, v)
    try body
    finally old match {
      case Some(o) => spark.conf.set(Threshold, o)
      case None => spark.conf.unset(Threshold)
    }
  }

  private def docs: DataFrame = Tables.documents(spark, sf0001)

  private def langCounts: DataFrame = docs.groupBy($"lang").count().orderBy($"lang")

  /** Range exchanges of the executed (final adaptive) plan. */
  private def rangeExchanges(df: DataFrame): Int = collect(df.queryExecution.executedPlan) {
    case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
  }.size

  private def coalesces(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case c: CoalesceExec => c }.size

  test("aggregate then ORDER BY under the threshold: no range exchange, 2 fewer jobs, same rows") {
    // the frames are built outside the counts: only their execution counts
    val on = langCounts
    val (onRows, onJobs) = JobCount(spark.sparkContext)(on.collect())
    assert(rangeExchanges(on) === 0, on.queryExecution.executedPlan.toString)
    assert(coalesces(on) === 1)
    val (offRows, offJobs) = withThreshold("-1") {
      val off = langCounts
      val counted = JobCount(spark.sparkContext)(off.collect())
      assert(rangeExchanges(off) === 1)
      counted
    }
    assert(onRows.length > 1)
    assert(onRows.toSeq === offRows.toSeq)
    assert(offJobs - onJobs === 2, s"jobs: $onJobs with the rule, $offJobs without")
  }

  test("over the threshold the range exchange stays") {
    withThreshold("1") {
      val df = langCounts
      df.collect()
      assert(rangeExchanges(df) === 1)
      assert(coalesces(df) === 0)
    }
  }

  test("ORDER BY ... LIMIT keeps its plan") {
    def topLangs = docs.groupBy($"lang").count().orderBy($"count".desc, $"lang").limit(2)
    val on = topLangs
    val (offPlan, offRows) = withThreshold("-1") {
      val df = topLangs
      (df.queryExecution.optimizedPlan, df.collect().toSeq)
    }
    assert(on.queryExecution.optimizedPlan.collect { case r: Repartition => r }.isEmpty)
    assert(on.queryExecution.optimizedPlan.sameResult(offPlan))
    assert(on.collect().toSeq === offRows)
    assert(on.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }

  test("explode over a small scan keeps its range exchange") {
    val exploded = docs.select(explode(split(coalesce($"text", lit("")), " ")).as("tok"))
      .orderBy($"tok")
    exploded.collect()
    assert(rangeExchanges(exploded) === 1)
    // the range stage that already ran is not coalesced at runtime
    assert(coalesces(exploded) === 0)
  }

  test("a streaming plan is untouched") {
    val batch = spark.range(0, 10).toDF("x").orderBy($"x").queryExecution.analyzed
    def leafAs(streaming: Boolean): LogicalPlan = batch.transform {
      case r: Range => LocalRelation(r.output, Nil, isStreaming = streaming)
    }
    assert(SmallSort(leafAs(streaming = false)).collect { case r: Repartition => r }.size === 1)
    val streamingPlan = leafAs(streaming = true)
    assert(streamingPlan.isStreaming)
    assert(SmallSort(streamingPlan) eq streamingPlan)
  }
}
