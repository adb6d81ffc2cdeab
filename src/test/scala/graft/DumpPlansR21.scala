package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** Executed-plan snapshots: RUNS every SparkEntry query (or a
  * SPARK_GRAFT_ONLY subset) under the bench session config
  * (Bench.measurementSession) at the benched SF, then writes
  * `.explain("formatted")` of its final AQE plan under
  * plans/r21/<query>_<suffix>.txt and prints one `<query> exchanges=<n>`
  * line. The initial plan is not enough: re-planning rules (the
  * presentation-sort rule in [[graft.operators.Present]]) only fire once
  * the stages below have run, so an unexecuted plan still shows the
  * exchanges they remove. Run the same dumper on two checkouts and diff
  * the `exchanges=` lines to compare plan shapes.
  *
  * Run: SPARK_GRAFT_PLAN_SUFFIX=before sbt "Test/runMain graft.DumpPlansR21"
  */
object DumpPlansR21 {
  /** Exchange nodes (shuffle, broadcast, reused) in an executed plan,
    * inside its query stages and subqueries too. */
  def exchanges(p: SparkPlan): Int = {
    val own = p match {
      case _: Exchange | _: ReusedExchangeExec => 1
      case _ => 0
    }
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children ++ p.subqueries
    }
    own + inner.map(exchanges).sum
  }

  def main(args: Array[String]): Unit = {
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r21")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = Bench.measurementSession(cpus, cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
      .foreach { name =>
        try {
          val qe = SparkEntry.queries(name)(spark, dir).queryExecution
          qe.toRdd.foreach(_ => ())
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"),
            qe.explainString(FormattedMode))
          println(s"$name exchanges=${exchanges(qe.executedPlan)}")
        } catch { case e: Throwable =>
          System.err.println(s"[plans] $name failed: ${e.getMessage}")
        }
      }
    println(s"wrote plans to $outDir (*_$suffix.txt)")
    spark.stop()
  }
}
