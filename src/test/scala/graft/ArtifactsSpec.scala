package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ArrayQueries, Similarity}

/** The Artifacts store's freshness contract: every memo derived from a
  * table — loaded frames, persisted chunk arrays, k x k fits, trained
  * models and the oracle SQL built from them — follows the table's file
  * contents, so a table rewritten in place is recomputed in the same
  * JVM, never served stale. */
class ArtifactsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private val src = "/root/testdata/sf0.001"

  private def write(df: DataFrame, dir: String, table: String): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$table.parquet")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  /** Every face the spec checks, evaluated against `dir`. */
  private def faces(dir: String): Map[String, Seq[String]] = Map(
    "arr_lstsq" -> rows(ArrayQueries.arrLstsq(spark, dir)),
    "arr_corrcoef" -> rows(ArrayQueries.arrCorrcoef(spark, dir)),
    "events_1d" -> rows(ArrayQueries.eventsArray1dCached(spark, dir).df).sorted,
    // the trained face: probes, neighbors and ranks (the cosine doubles
    // are compared through the oracle SQL's embedded centroids below)
    "sim_ivf_trained" -> Similarity.simIvfTrained(spark, dir)
      .select("probe_id", "vec_id", "rk").collect().map(_.toString).toSeq)

  private def oracle(dir: String, name: String): String = {
    def pin(d: String): Unit = { ArrayQueries.setOracleDir(d); Similarity.setOracleDir(d) }
    pin(dir)
    try SparkEntry.oracleSql(name) finally pin(null)
  }

  test("a table rewritten in place is recomputed, not served stale") {
    val events = spark.read.parquet(s"$src/events.parquet")
    val embeddings = spark.read.parquet(s"$src/embeddings.parquet")
    val live = java.nio.file.Files.createTempDirectory("graft_rewrite").toString
    val fresh = java.nio.file.Files.createTempDirectory("graft_fresh").toString
    try {
      write(events, live, "events")
      write(embeddings, live, "embeddings")
      val before = faces(live)
      val lstsqBefore = oracle(live, "arr_lstsq")
      val ivfBefore = oracle(live, "sim_ivf_trained")

      // same dir, fewer rows; the reference is the same new data under a
      // dir this JVM has never seen (what a fresh JVM would compute)
      val events2 = events.filter(col("event_id") % 3 =!= 0)
      val embeddings2 = embeddings.filter(col("vec_id") % 7 =!= 6)
      assert(events2.count() < events.count())
      write(events2, live, "events")
      write(embeddings2, live, "embeddings")
      write(events2, fresh, "events")
      write(embeddings2, fresh, "embeddings")

      val after = faces(live)
      val expected = faces(fresh)
      for (name <- expected.keys) {
        assert(after(name) == expected(name), s"$name served stale after the rewrite")
      }
      assert(before("arr_lstsq") != after("arr_lstsq"), "the rewrite must move the fit")
      assert(before("events_1d") != after("events_1d"))
      // the trained-literal oracles read the same entries as the faces
      assert(oracle(live, "arr_lstsq") == oracle(fresh, "arr_lstsq"))
      assert(oracle(live, "arr_lstsq") != lstsqBefore)
      assert(oracle(live, "sim_ivf_trained") == oracle(fresh, "sim_ivf_trained"))
      assert(oracle(live, "sim_ivf_trained") != ivfBefore)
      assert(SparkEntry.oracleSql.contains("arr_corrcoef"))
    } finally {
      ArrayQueries.release(spark)
      for (d <- Seq(live, fresh))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    }
  }
}
