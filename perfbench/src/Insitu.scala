package perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.arrays.{ArrayGeometry, ChunkedArray}
import graft.streaming.Simulation

/** Chunk payloads are a pure function of (seed, timestep, position), so
  * the reference can regenerate them instead of keeping them. Values
  * carry two decimals, as the simulation chunks graft folds exactly. */
object Payload {
  def chunk(seed: Long, t: Long, i: Int, j: Int, elems: Int): Array[Double] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + t * 1000003L + i * 1009L + j)
    Array.fill(elems)(r.nextInt(-50000, 50000) / 100.0)
  }
}

/** The in-situ stream: an open-loop generator (this thread) feeds a
  * memory source on a fixed schedule; `Simulation.runArrayOp` assembles
  * each timestep's 4x4 grid of 128x128 chunks and runs
  * `stencilLaplacian().statsPerTimestep` on it. In every second
  * timestep one chunk is held back into the next timestep's slot, and
  * each chunk is re-sent there with probability `dup`, so chunks arrive
  * out of order across neighbouring timesteps and some arrive twice.
  *
  * Order of a run: set-ups (session, stream start and the first
  * timestep, repeated), a warm-up step and the latency step at a fixed
  * rate below the stream's capacity; a traced run repeats the
  * latency step with the listeners attached. Every timestep offered must
  * come back exactly once, equal to the batch result. */
object Insitu {
  private type Row = (String, Long, Int, Seq[Int], Seq[Double], Long)
  private type Stats = (Long, Double, Double, Double)

  private final case class Step(offered: Int, latenciesMs: Seq[Double], lateMs: Seq[Double],
      backlog: Seq[Double], drained: Boolean, callbackMs: Seq[Double]) {
    def tail: Double = Main.tail(latenciesMs)._1
  }

  /** Every `SplitEvery`-th timestep has one straggler chunk, chosen by
    * the seed, that arrives with the next timestep's chunks: an assumed
    * arrival pattern that puts whole timesteps and timesteps split across
    * two micro-batches in the stream in equal, fixed shares. */
  private val SplitEvery = 2

  /** How long a step may take to deliver its last timestep. */
  private val DrainTimeoutMs = 60000L

  /** Per-layer metrics only a batch sweep exercises; a stream reports 0. */
  private val batchOnly = Seq("operators.build_s", "operators.build_jobs",
    "family.arr.cold_s", "family.arr.warm_s")

  def run(args: Map[String, String]): Map[String, Any] = {
    val seed = args("seed").toLong
    val grid = args("grid").toInt
    val side = args("chunk").toInt
    val dup = args("dup").toDouble
    val traced = args("trace") == "1"
    val perTs = grid * grid
    val elems = side * side
    val geom = ArrayGeometry(Seq(grid, grid), Seq(side, side))

    // per stream: results and completion times, written by the sink
    var spark: SparkSession = null
    var in: MemoryStream[Row] = null
    var query: StreamingQuery = null
    val results = new ConcurrentHashMap[Long, Vector[Stats]]()
    val doneAt = new ConcurrentHashMap[Long, Long]()
    val completed = new AtomicLong()
    val lastSinkBatch = new AtomicLong(-1)
    val callbackMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val lastDue = mutable.Map.empty[Long, Long]
    var nextT = 0L

    def startStream(): Unit = {
      results.clear(); doneAt.clear(); completed.set(0); callbackMs.clear(); lastSinkBatch.set(-1)
      lastDue.clear(); nextT = 0L
      val s = spark
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      in = MemoryStream[Row]
      val chunks = in.toDF().toDF("name", "timestep", "nbChunks", "pos", "data", "due_ms")
      query = Simulation.runArrayOp(chunks, "field", geom,
        _.stencilLaplacian().statsPerTimestep,
        (df: DataFrame, batchId: Long) => {
          lastSinkBatch.accumulateAndGet(batchId, (a, b) => math.max(a, b))
          val t0 = System.nanoTime()
          val rows = df.collect()
          val t1 = System.nanoTime()
          callbackMs.add((t1 - t0) / 1e6)
          rows.foreach { r =>
            val t = r.getLong(0)
            results.merge(t, Vector((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))),
              (a, b) => a ++ b)
            if (doneAt.putIfAbsent(t, t1) == null) completed.incrementAndGet()
          }
        })
    }

    def row(t: Long, i: Int, j: Int, dueMs: Long): Row =
      ("field", t, perTs, Seq(i, j), ArraySeq.unsafeWrapArray(Payload.chunk(seed, t, i, j, elems)),
        dueMs)

    def waitUntil(ns: Long): Unit =
      while (System.nanoTime() < ns) LockSupport.parkNanos(ns - System.nanoTime())

    /** Wait until every timestep below `until` came back, or the timeout. */
    def drain(until: Long): Boolean = {
      val deadline = System.nanoTime() + DrainTimeoutMs * 1000000L
      while (completed.get() < until && System.nanoTime() < deadline &&
          query.exception.isEmpty) Thread.sleep(2)
      completed.get() >= until
    }

    /** Offer `n` timesteps at `rate` per second, open loop. Slot k is due
      * at start + k/rate and carries timestep a+k's on-time chunks plus
      * timestep a+k-1's late chunks and duplicates; slot n carries only
      * leftovers. */
    def step(rate: Double, n: Int, disorder: Boolean = true): Step = {
      val a = nextT
      val period = (1e9 / rate).toLong
      val start = System.nanoTime() + 1000000L
      val wallStart = System.currentTimeMillis() + 1
      val lateMs, backlog = mutable.ArrayBuffer.empty[Double]
      val cb0 = callbackMs.size
      def plan(t: Long): Seq[(Int, Int, Boolean, Boolean)] = {
        val r = new SplittableRandom(seed * 31 + t)
        val straggler = if (disorder && t % SplitEvery == SplitEvery - 1) r.nextInt(perTs) else -1
        for (i <- 0 until grid; j <- 0 until grid)
          yield (i, j, i * grid + j == straggler, disorder && r.nextDouble() < dup)
      }
      var prev: Seq[(Int, Int, Boolean, Boolean)] = Nil
      var k = 0
      var done = false
      while (!done) {
        val t = a + k
        val cur = if (k < n) plan(t) else Nil
        val slot = cur.filterNot(_._3).map(c => (t, c._1, c._2)) ++
          prev.filter(c => c._3 || c._4).map(c => (t - 1, c._1, c._2))
        if (slot.isEmpty) done = true
        else {
          val due = start + k * period
          val dueMs = wallStart + k * period / 1000000L
          val order = new SplittableRandom(seed * 17 + t)
          val rows = slot.map(x => (order.nextDouble(), x)).sortBy(_._1)
            .map { case (_, (ts, i, j)) => row(ts, i, j, dueMs) }
          waitUntil(due)
          lateMs += (System.nanoTime() - due) / 1e6
          if (cur.nonEmpty) {
            lastDue(t) = if (cur.exists(_._3)) due + period else due
            nextT = t + 1
          }
          in.addData(rows)
          backlog += (nextT - completed.get()) * perTs.toDouble
          prev = cur
          k += 1
        }
      }
      val drained = drain(nextT)
      val lat = (a until nextT).flatMap(t => Option(doneAt.get(t)).map(d => (d - lastDue(t)) / 1e6))
      Step((nextT - a).toInt, lat, lateMs.toSeq, backlog.toSeq, drained,
        callbackMs.asScala.toSeq.drop(cb0))
    }

    // set-ups: session start, stream start and the first timestep
    val setups = (1 to args("setups").toInt).map { i =>
      if (spark != null) { query.stop(); Main.stop(spark) }
      val t0 = System.nanoTime()
      spark = Main.session(args)
      startStream()
      val first = step(1.0, 1, disorder = false)
      (Main.secs(t0), first.latenciesMs.headOption.getOrElse(Double.NaN) / 1e3,
        Option(results.get(0L)).getOrElse(Vector.empty))
    }
    val s = spark
    val latRate = args("latency_rate").toDouble
    val latTs = args("latency_ts").toInt
    step(latRate, args("warmup_ts").toInt)
    val batch0 = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)
    val latency = step(latRate, latTs)
    // throughput: timesteps the latency step delivered per second the
    // stream spent in micro-batches, from the query's own progress record
    // (which lands just after the batch's sink returns)
    val deadline = System.nanoTime() + 5000000000L
    while (Option(query.lastProgress).forall(_.batchId < lastSinkBatch.get()) &&
        System.nanoTime() < deadline) Thread.sleep(5)
    val busyS = query.recentProgress.filter(p => p.batchId > batch0 && p.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").doubleValue).sum / 1e3
    val throughput = latency.latenciesMs.size / busyS

    val tracer = if (traced) Some(new Tracer(s)) else None
    val (tracedStep, counters) = tracer match {
      case Some(tr) =>
        tr.attach(); tr.cut()
        val w0 = System.currentTimeMillis()
        val st = step(latRate, latTs)
        val w1 = System.currentTimeMillis()
        val c = tr.cut()
        tr.detach()
        val cacheMb = s.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
        (Some(st), Some((c, w0, w1, cacheMb)))
      case None => (None, None)
    }
    val allDrained = drain(nextT)
    val heapMb = if (traced) 0.0 else Main.heapLiveMb()
    val streamError = query.exception.map(_.getMessage)
    query.stop()

    // reference, untimed: the same deduplicated chunks as one batch array
    val reference = {
      val keys = for (t <- 0L until nextT; i <- 0 until grid; j <- 0 until grid) yield (t, i, j)
      import s.implicits._
      val (sd, el) = (seed, elems)
      val df = s.createDataset(keys).repartition(s.sparkContext.defaultParallelism)
        .map { case (t, i, j) => (t, Seq(i, j), Payload.chunk(sd, t, i, j, el).toSeq) }
        .toDF("timestep", "pos", "data")
      ChunkedArray(df, geom).stencilLaplacian().statsPerTimestep.collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
        .toMap
    }
    // self-test: a perturbed reference must trip the check
    val corrupt = args("corrupt_reference") == "1"
    def want(t: Long): Vector[Stats] =
      reference.get(t).map(r => if (corrupt && t == 0) r.copy(_2 = r._2 + 0.01) else r).toVector
    val wrong = (0L until nextT).filter { t =>
      Option(results.get(t)).getOrElse(Vector.empty) != want(t)
    } ++ setups.zipWithIndex.collect { case ((_, _, got), i) if got != want(0L) => -1L - i }

    val endToEnd = Map(
      "setup_s" -> Main.settledMedian(setups.map(_._1)),
      "cold_s" -> Main.settledMedian(setups.map(_._2)),
      "p50_ms" -> Main.median(latency.latenciesMs),
      "tail_ms" -> latency.tail,
      "throughput_per_s" -> throughput,
      "heap_live_mb" -> heapMb)
    val layers = (tracedStep, counters) match {
      case (Some(st), Some((c, w0, w1, cacheMb))) =>
        val prog = c.progress.toSeq
        val batches = math.max(1, prog.size)
        def dur(k: String): Double =
          Main.median(prog.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
        val state = prog.flatMap(_.stateOperators.headOption)
        c.layers(w0, w1) ++ batchOnly.map(_ -> 0.0) ++ Map(
          "persists.cache_mb" -> cacheMb,
          "streaming.trigger_ms" -> dur("triggerExecution"),
          "streaming.latest_offset_ms" -> dur("latestOffset"),
          "streaming.plan_ms" -> dur("queryPlanning"),
          "streaming.add_batch_ms" -> dur("addBatch"),
          "streaming.wal_commit_ms" -> dur("walCommit"),
          "streaming.batches" -> prog.size.toDouble,
          "streaming.rows_per_batch" -> Main.median(prog.map(_.numInputRows.toDouble)),
          "streaming.backlog_chunks" -> Main.median(st.backlog),
          "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
          "streaming.state_mem_mb" ->
            state.map(_.memoryUsedBytes / 1048576.0).maxOption.getOrElse(0.0),
          "streaming.state_commit_ms" -> Main.median(state.map(_.commitTimeMs.toDouble)),
          "streaming.state_removed_rows" -> state.map(_.numRowsRemoved.toDouble).sum,
          "exec.jobs_per_batch" -> c.jobs.toDouble / batches,
          "shuffle.write_mb_per_batch" -> c.shuffleWrite / 1048576.0 / batches,
          "streaming.callback_ms" -> Main.median(st.callbackMs),
          "gen.late_p50_ms" -> Main.median(st.lateMs),
          "gen.late_max_ms" -> st.lateMs.max,
          "trace.overhead_s" ->
            (Main.median(st.latenciesMs) - Main.median(latency.latenciesMs)) / 1e3)
      case _ => Map.empty[String, Double]
    }
    def stepJson(st: Step): Map[String, Any] = Map(
      "rate" -> latRate, "offered" -> st.offered, "delivered" -> st.latenciesMs.size,
      "p50_ms" -> Main.median(st.latenciesMs), "tail_ms" -> st.tail,
      "tail_pct" -> Main.tail(st.latenciesMs)._2, "latencies_ms" -> st.latenciesMs,
      "drained" -> st.drained,
      "backlog_max_chunks" -> st.backlog.max,
      "gen_late_p50_ms" -> Main.median(st.lateMs), "gen_late_max_ms" -> st.lateMs.max,
      "callback_p50_ms" -> Main.median(st.callbackMs))
    Map(
      "metrics" -> (if (traced) layers else endToEnd),
      "attempted" -> (nextT + setups.size),
      "failed_timesteps" -> wrong.size,
      "errors" -> (streamError.toSeq ++ (if (allDrained) Nil else Seq("undelivered timesteps")) ++
        wrong.take(5).map(t =>
          if (t < 0) s"set-up ${-t}: first timestep wrong"
          else s"timestep $t: got ${results.get(t)}, want ${want(t)}")),
      "detail" -> Map(
        "setup_s" -> setups.map(_._1),
        "first_timestep_s" -> setups.map(_._2),
        "latency_step" -> stepJson(latency),
        "throughput_per_s" -> throughput,
        "traced_step" -> tracedStep.map(stepJson).getOrElse(Map.empty)))
  }

}
