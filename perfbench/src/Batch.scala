package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.{ArrayQueries, Similarity, TextAnalysis}
import graft.sources.Tables

/** The batch sweeps: a fixed list of `SparkEntry.queries` run in order
  * through a `noop` sink. Pass 1 runs in a fresh session, pass 2 repeats
  * it (`warm_passes` times, the second half measured) in the same
  * session; memoized relations are released at family boundaries. A
  * traced run adds a third pass (warm, traced) so the tracing overhead
  * is the gap between passes 2 and 3. */
object Batch {
  def family(query: String): String = query.takeWhile(_.isLetter)

  /** Per-layer metrics only a stream exercises; a batch run reports 0. */
  private val streamOnly = Seq("streaming.trigger_ms", "streaming.latest_offset_ms",
    "streaming.plan_ms", "streaming.add_batch_ms", "streaming.wal_commit_ms",
    "streaming.batches", "streaming.rows_per_batch", "streaming.backlog_chunks",
    "streaming.state_rows", "streaming.state_mem_mb", "streaming.state_commit_ms",
    "streaming.state_removed_rows", "exec.jobs_per_batch", "shuffle.write_mb_per_batch",
    "streaming.callback_ms", "gen.late_p50_ms", "gen.late_max_ms")

  private final case class Run(name: String, seconds: Double, error: Option[String],
      layers: Map[String, Double])

  def run(args: Map[String, String]): Map[String, Any] = {
    val dir = args("data")
    val names = args("queries").split(",").toSeq
    val traced = args("trace") == "1"

    // set-up: session start and table listing (schema and file listing of
    // every table), repeated; the last session is the one measured
    var spark: SparkSession = null
    val setups = (1 to args("setups").toInt).map { _ =>
      if (spark != null) { Main.stop(spark); Tables.clearCache() }
      val t0 = System.nanoTime()
      spark = Main.session(args)
      Tables.names.foreach(n => Tables.load(spark, dir, n))
      Main.secs(t0)
    }
    val s = spark
    val queries = SparkEntry.queries
    val tracer = if (traced) Some(new Tracer(s)) else None
    val cacheMb = mutable.ArrayBuffer.empty[Map[String, Any]]
    var lastFamily: String = null

    def storedMb(): Double =
      s.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0

    def boundary(next: String, pass: String): Unit = {
      if (lastFamily != null && next != lastFamily) {
        cacheMb += Map("pass" -> pass, "family" -> lastFamily, "mb" -> storedMb())
        ArrayQueries.release(s)
      }
      lastFamily = next
    }

    def runQuery(name: String, pass: String, t: Option[Tracer]): Run = {
      boundary(family(name), pass)
      s.sparkContext.setJobGroup(s"$name#$pass", name)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var buildS = 0.0
      var buildJobs = 0L
      val error =
        try {
          val df = queries(name)(s, dir)
          buildS = Main.secs(t0)
          t.foreach(tr => buildJobs = tr.jobsSoFar())
          df.write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val sec = Main.secs(t0)
      val w1 = System.currentTimeMillis()
      s.sparkContext.clearJobGroup()
      val layers = t.map { tr =>
        tr.cut().layers(w0, w1) ++ Map(
          "wall_s" -> sec,
          "operators.build_s" -> buildS,
          "operators.build_jobs" -> buildJobs.toDouble)
      }.getOrElse(Map.empty)
      Run(name, sec, error, layers)
    }

    def pass(label: String, trace: Boolean): (Double, Seq[Run]) = {
      val t = if (trace) tracer else None
      t.foreach { tr => tr.attach(); tr.cut() }
      val t0 = System.nanoTime()
      val runs = names.map(runQuery(_, label, t))
      val wall = Main.secs(t0)
      t.foreach(_.detach())
      (wall, runs)
    }

    val (coldS, cold) = pass("1", traced)
    // warm passes, untraced; per-query times and the sweep are medians
    // of the second half (see Main.settledMedian)
    val warmPasses = (1 to args("warm_passes").toInt).map(i => pass(s"2.$i", trace = false))
    val settled = warmPasses.drop(warmPasses.size / 2)
    val warmS = Main.settledMedian(warmPasses.map(_._1))
    val warm = warmPasses.flatMap(_._2)
    val warmTimes = names.indices.map(i => Main.median(settled.map(_._2(i).seconds)))
    val (tracedWarmS, tracedWarm) = if (traced) pass("3", trace = true) else (0.0, Nil)
    val heapMb = if (traced) 0.0 else Main.heapLiveMb()

    // output check, untimed: dump every result as Verify does, plus the
    // DuckDB oracle SQL for the same queries (run.py compares them with
    // tools/check.py). The dump runs before the final release, on the
    // memoized relations the warm passes used.
    val checkDir = s"${args("work")}/check"
    Similarity.setOracleDir(dir)
    TextAnalysis.setOracleDir(dir)
    ArrayQueries.setOracleDir(dir)
    val dumpErrors = names.flatMap { n =>
      try {
        queries(n)(s, dir).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$n")
        None
      } catch { case e: Throwable => Some(n -> s"check dump: ${e.getMessage}") }
    }.toMap
    val oracles = SparkEntry.oracleSql
    val missingOracle = names.filterNot(oracles.contains).map(_ -> "no oracle SQL").toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$checkDir/oracle_sql.json"),
      Json(names.flatMap(n => oracles.get(n).map(n -> _)).toMap))
    boundary("", "end")

    val errors = (cold ++ warm ++ tracedWarm).flatMap(r => r.error.map(r.name -> _)).toMap ++
      dumpErrors ++ missingOracle
    val (tailS, tailPct) = Main.tail(warmTimes)
    val endToEnd = Map(
      "setup_s" -> Main.settledMedian(setups),
      "cold_s" -> coldS,
      "p50_ms" -> Main.median(warmTimes) * 1e3,
      "tail_ms" -> tailS * 1e3,
      "throughput_per_s" -> names.size / warmS,
      "heap_live_mb" -> heapMb)
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        val tracedRuns = cold ++ tracedWarm
        val keys = tracedRuns.head.layers.keys.filter(_ != "wall_s")
        val sums = keys.map(k => k -> tracedRuns.map(_.layers(k)).sum).toMap
        val fam = names.map(family).distinct.flatMap { f =>
          Seq(s"family.$f.cold_s" -> cold.filter(r => family(r.name) == f).map(_.seconds).sum,
            s"family.$f.warm_s" -> tracedWarm.filter(r => family(r.name) == f).map(_.seconds).sum)
        }
        sums ++ fam ++ streamOnly.map(_ -> 0.0) ++ Map(
          "persists.cache_mb" -> cacheMb.map(_("mb").asInstanceOf[Double]).maxOption.getOrElse(0.0),
          "trace.overhead_s" -> (tracedWarmS - warmS))
      }
    Map(
      "metrics" -> (if (traced) layers else endToEnd),
      "attempted" -> names.size,
      "failed_queries" -> errors,
      "check_dir" -> checkDir,
      "detail" -> Map(
        "sweep_cold_s" -> coldS,
        "sweep_warm_s" -> warmS,
        "warm_sweeps_s" -> warmPasses.map(_._1),
        "query_p50_s" -> Main.median(warmTimes),
        "query_tail_s" -> tailS,
        "query_tail_pct" -> tailPct,
        "setup_s" -> setups,
        "cache_mb_at_boundaries" -> cacheMb.toSeq,
        "pass1_s" -> cold.map(r => r.name -> r.seconds).toMap,
        "pass2_s" -> names.zip(warmTimes).toMap),
      "layers" -> (cold.map(r => s"${r.name}#1" -> r.layers) ++
        tracedWarm.map(r => s"${r.name}#3" -> r.layers)).toMap)
  }
}
