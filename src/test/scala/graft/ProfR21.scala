package graft

/** Profiling harness: runs a SPARK_GRAFT_ONLY subset of queries under
  * the bench session (Bench.measurementSession) with event logging on, so
  * per-stage/task time (scheduling vs compute vs shuffle) can be parsed
  * from /tmp/spark-events. Each query runs twice (bench methodology:
  * the second pass is the marginal cost). */
object ProfR21 {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("/tmp/spark-events"))
    // Event logging is a SparkContext setting, read from spark.* system
    // properties when the context starts; everything else is the bench's.
    sys.props ++= Seq(
      "spark.eventLog.enabled" -> "true",
      "spark.eventLog.dir" -> "/tmp/spark-events",
      // the box has no zstd cli/python binding; write plain JSON
      "spark.eventLog.compress" -> "false")
    val spark = Bench.measurementSession(cpus, cpus.toInt)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    // warm like the bench does
    graft.sources.Tables.names.foreach(n =>
      graft.sources.Tables.load(spark, dir, n).write.format("noop").mode("overwrite").save())
    try {
      graft.operators.ArrayQueries.eventsArray1dCached(spark, dir).df
        .write.format("noop").mode("overwrite").save()
      graft.operators.ArrayQueries.eventsArray2dCached(spark, dir).df
        .write.format("noop").mode("overwrite").save()
      graft.operators.ArrayQueries.eventsArray3dCached(spark, dir).df
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    var lastFamily: String = null
    only.foreach { name =>
      val fam = name.takeWhile(_.isLetter)
      if (lastFamily != null && fam != lastFamily) {
        try graft.operators.ArrayQueries.release(spark)
        catch { case _: Throwable => () }
      }
      lastFamily = fam
      (1 to 2).foreach { pass =>
        spark.sparkContext.setJobGroup(s"$name#$pass", s"$name pass $pass")
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[prof] $name pass$pass $sec%8.3f s")
        spark.sparkContext.clearJobGroup()
      }
    }
    ()
    println(s"[prof] app=${spark.sparkContext.applicationId}")
    spark.stop()
  }
}
