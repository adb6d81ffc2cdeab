package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Present

/** [[Present.SortShape]]: a presentation `.orderBy` whose measured input
  * AQE would read as one partition runs as one task with no exchange;
  * everything else keeps Spark's range sort. */
class PresentSortSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Every node of the executed plan, inside its query stages too. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case _ => p +: p.children.flatMap(nodes)
  }

  private def rangeExchanges(df: DataFrame): Seq[ShuffleExchangeExec] =
    nodes(df.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** A bounded aggregate: 7 groups over a 10k-row range. */
  private def bounded: DataFrame =
    spark.range(0, 10000).withColumn("k", col("id") % 7)
      .groupBy("k").agg(sum("id").as("s"))
      .orderBy("k")

  private def rowsWithoutAqe(df: => DataFrame): Seq[Row] =
    withConf("spark.sql.adaptive.enabled", "false")(df.collect().toSeq)

  test("a bounded .orderBy runs as one task with no range exchange") {
    val df = bounded
    val rows = df.collect().toSeq
    assert(rangeExchanges(df).isEmpty, df.queryExecution.executedPlan.toString)
    val plan = nodes(df.queryExecution.executedPlan)
    val sorts = plan.collect { case s: SortExec => s }
    assert(sorts.size == 1 && sorts.head.global)
    assert(sorts.head.outputPartitioning.numPartitions == 1)
    assert(plan.collect { case c: CoalesceExec => c.numPartitions } == Seq(1))
    assert(rows.map(_.getLong(0)) == (0L until 7L))
    assert(rows == rowsWithoutAqe(bounded))
  }

  test("an input above AQE's one-partition size keeps the range sort") {
    withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1") {
      val df = bounded
      val rows = df.collect().toSeq
      val range = rangeExchanges(df)
      assert(range.size == 1 && range.head.shuffleOrigin == ENSURE_REQUIREMENTS,
        df.queryExecution.executedPlan.toString)
      assert(rows == rowsWithoutAqe(bounded))
    }
  }

  test("a sort fed straight from a parquet scan keeps the range sort") {
    val dir = java.nio.file.Files.createTempDirectory("graft_present").toString
    spark.range(0, 100).withColumn("v", col("id") * 3)
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).orderBy(col("v").desc)
    val rows = df.collect().toSeq
    assert(rangeExchanges(df).size == 1, df.queryExecution.executedPlan.toString)
    assert(rows.map(_.getLong(1)) == (0L until 100L).map(_ * 3).reverse)
  }

  test("spreadSorted keeps its own range repartition") {
    val df = spark.range(0, 10000).withColumn("doc_id", col("id") % 7)
      .groupBy("doc_id").agg(sum("id").as("s"))
      .transform(Present.spreadSorted("doc_id"))
    val rows = df.collect().toSeq
    val finalPlan = df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec].executedPlan
    assert(Present.SortShape(finalPlan) eq finalPlan)
    val range = rangeExchanges(df)
    assert(range.size == 1 && range.head.shuffleOrigin == REPARTITION_BY_NUM)
    assert(!nodes(df.queryExecution.executedPlan).exists(_.isInstanceOf[CoalesceExec]))
    assert(rows.map(_.getLong(0)) == (0L until 7L))
  }
}
