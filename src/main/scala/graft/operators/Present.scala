package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, LocalTableScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, ShuffleQueryStageExec, TableCacheQueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ENSURE_REQUIREMENTS, ShuffleExchangeExec, ShuffleExchangeLike, ValidateRequirements}
import org.apache.spark.sql.internal.SQLConf

/** Presentation sorts. Every declared query ends in a total
  * deterministic sort so results replay identically cross-engine
  * (SURVEY §5). Queries spell it as plain `.orderBy`; its physical shape
  * is decided once, by [[SortShape]]. Row order is the same under every
  * shape, because the keys are total. */
object Present {

  /** Corpus-scale per-row MAP pipelines whose declared output order is a
    * total key of their INPUT (per-document serving scans ending in
    * `.orderBy("doc_id")`): establish the range partitioning on the
    * CHEAP input first, then run the expensive map once, post-exchange.
    *
    * The map-then-`.orderBy` spelling pays the map TWICE — the range
    * exchange's boundary sampling re-executes its child, which is the
    * scan+map stage — and on a narrow source (the shipped
    * single-row-group parquet files are ONE input split each) both
    * executions are serial. Sorting the input instead samples only the
    * scan, and the map runs once, spread across the range partitions
    * (guide §1.2 step 1 / §2.5 input skew). No plan rule can move the
    * sort below the map, so this one stays explicit.
    *
    * Row order is bit-identical to `.orderBy(keys)`: the keys are a
    * total order by construction (SURVEY §5), and range partitioning +
    * within-partition sort IS that global sort, so oracles are
    * untouched.
    *
    * Partition count is pinned to `defaultParallelism` (cores): the map
    * is CPU-bound, so width follows cores, not bytes — AQE's
    * byte-targeted coalescing would fold a few MB of text back to one
    * partition and re-serialize the kernel. At cluster scale
    * defaultParallelism = total executor cores, the natural width for a
    * full-corpus map pass. STATIC-ALLOCATION ASSUMPTION (ADVICE r21):
    * the width is read at plan-build time, so under dynamic allocation
    * it can be the small pre-executor value — deployments using
    * dynamicAllocation should floor it against the configured
    * spark.sql.shuffle.partitions (the cluster posture this repo
    * targets provisions executors before query construction).
    *
    * The per-row map applied after the spread must keep the row order
    * (no exchange), so the spread IS the query's declared sort. */
  def spreadSorted(first: String, rest: String*)(df: DataFrame): DataFrame = {
    val keys = (first +: rest).map(org.apache.spark.sql.functions.col)
    df.repartitionByRange(
        df.sparkSession.sparkContext.defaultParallelism, keys: _*)
      .sortWithinPartitions(keys: _*)
  }

  /** AQE query-stage preparation rule (registered by
    * [[graft.GraftExtensions]]; it runs on the initial plan and on every
    * re-plan). A global sort over its `ENSURE_REQUIREMENTS` range
    * exchange becomes `coalesce(1)` + sort, with no exchange, once every
    * input of the stage under that exchange is measured — a materialized
    * shuffle stage, a materialized cached-table stage or a local
    * relation; broadcast sides are not counted — and their total is no
    * more than AQE itself reads as one partition:
    * `coalescePartitions.minPartitionSize` under the default
    * `parallelismFirst`, else `advisoryPartitionSizeInBytes`. Such an
    * input would be coalesced to one task anyway, so the range exchange
    * only adds its sampling pass, a shuffle and an AQE stage round-trip.
    *
    * Every other sort keeps Spark's range sort: file-scan stages, and
    * inputs that are larger or not measured yet (a later re-plan sees
    * them again once they are). A rewrite that breaks a parent's
    * distribution requirement is dropped whole. */
  object SortShape extends Rule[SparkPlan] {
    def apply(plan: SparkPlan): SparkPlan = {
      val line: Long =
        if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
          conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
        else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      val fused = plan.transformUp {
        case s @ SortExec(_, true,
            ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
            if inputBytes(child).exists(_ <= line) =>
          s.withNewChildren(Seq(CoalesceExec(1, child)))
      }
      if ((fused ne plan) && ValidateRequirements.validate(fused)) fused else plan
    }

    /** Total measured bytes of the stage inputs under `p`, or None while
      * any of them is unmeasured. */
    private def inputBytes(p: SparkPlan): Option[BigInt] = p match {
      case _: BroadcastQueryStageExec | _: BroadcastExchangeLike => Some(0)
      case s: ShuffleQueryStageExec if s.isMaterialized =>
        Some(s.mapStats.map(m => BigInt(m.bytesByPartitionId.sum)).getOrElse(0))
      case c: TableCacheQueryStageExec if c.isMaterialized =>
        Some(c.getRuntimeStatistics.sizeInBytes)
      case l: LocalTableScanExec =>
        Some(EstimationUtils.getSizePerRow(l.output) * l.rows.size)
      case _: ShuffleExchangeLike => None
      case _ if p.children.isEmpty => None
      case _ => p.children.foldLeft(Option(BigInt(0))) { (acc, c) =>
        for (a <- acc; b <- inputBytes(c)) yield a + b
      }
    }
  }
}
