package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `perfbench/run.py` builds this package
  * together with graft's sources, generates the inputs and starts one
  * JVM per run:
  *
  *   java ... perfbench.Main --kind batch|insitu --out result.json ...
  *
  * The JVM writes one JSON object (metrics, attempts, failures, machine
  * record and, in a traced run, per-query layer splits) to `--out`;
  * run.py adds the oracle check and prints the final line. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val machine = new Machine
    val res = args("kind") match {
      case "batch" => Batch.run(args)
      case "insitu" => Insitu.run(args)
    }
    val out = res + ("machine" -> machine.record())
    Files.writeString(Paths.get(args("out")), Json(out))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** graft's measurement session (the settings of `graft.Bench`); run.py
    * keeps its local, warehouse and checkpoint dirs under the run's work
    * dir through `spark.*` system properties. */
  def session(args: Map[String, String]): SparkSession = {
    val s = graft.MeasurementSession(args("cpus"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Heap in use after a full collection, in MiB: the least of three
    * collections 300 ms apart, so that Spark's ContextCleaner can drop
    * what the previous collection found unreachable (broadcasts, shuffle
    * and RDD blocks) and concurrent allocations do not count. */
  def heapLiveMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(300)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Median of the second half of repeated measurements: set-ups and
    * warm passes keep speeding up while the JIT compiles, so the first
    * half only lets it settle. */
  def settledMedian(xs: Seq[Double]): Double = median(xs.drop(xs.size / 2))

  /** The sample at the highest percentile that still has at least ten
    * samples beyond it, with that percentile. With fewer than 21 samples
    * that percentile would not lie above the median, so the tail is the
    * maximum instead. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) (Double.NaN, Double.NaN)
    else if (n < 21) (s.last, 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }
}

/** Cores, heap, Spark version and the CPU that other processes burned
  * during the run (busy jiffies in /proc/stat minus this process's
  * utime+stime), so a contended run identifies itself. */
final class Machine {
  private def sample(): (Long, Long) = {
    val stat = Files.readString(Paths.get("/proc/stat")).linesIterator.next()
      .trim.split("\\s+").drop(1).map(_.toLong)
    val busy = stat.sum - stat(3) - (if (stat.length > 4) stat(4) else 0L)
    val self = Files.readString(Paths.get("/proc/self/stat"))
    val f = self.substring(self.lastIndexOf(')') + 2).split(" ")
    (busy, f(11).toLong + f(12).toLong)
  }
  private val t0 = System.nanoTime()
  private val s0 = sample()

  def record(): Map[String, Any] = {
    val s1 = sample()
    val wall = Main.secs(t0)
    val clkTck = 100.0 // USER_HZ on Linux
    Map(
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "ext_cores" -> math.max(0.0, ((s1._1 - s0._1) - (s1._2 - s0._2)) / clkTck / wall),
      "wall_s" -> wall)
  }
}

/** Minimal JSON writer for maps, sequences, numbers, strings, booleans. */
object Json {
  def apply(v: Any): String = v match {
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(apply).mkString("[", ",", "]")
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s => quote(s.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
