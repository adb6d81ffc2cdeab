package graft

/** The benchmark runs under graft's own measurement session; that
  * spelling is private to graft, hence this one-line bridge in its
  * package. */
object MeasurementSession {
  def apply(cpus: String): org.apache.spark.sql.SparkSession = Bench.measurementSession(cpus, cpus.toInt)
}
