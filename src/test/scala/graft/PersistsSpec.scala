package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Artifacts

/** Persisted relations in the Artifacts store: instance reuse across
  * equivalent constructions, alias-safety, and explicit teardown. */
class PersistsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private def rel() = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "s")
    .groupBy("s").agg(count(lit(1)).as("n"))

  /** The cache entry a served frame is re-rooted at. */
  private def leafOf(df: DataFrame) =
    df.queryExecution.analyzed match {
      case imr: InMemoryRelation => imr.cacheBuilder
      case other => fail(s"expected a bare InMemoryRelation leaf, got:\n$other")
    }

  /** The store's own persisted frame for a plan equivalent to `df`. */
  private def heldFor(df: DataFrame): Seq[DataFrame] =
    Artifacts.held(spark).filter(h =>
      h.queryExecution.analyzed.sameResult(df.queryExecution.analyzed) &&
        h.schema.fieldNames.sameElements(df.schema.fieldNames))

  test("equivalent plans reuse the FIRST persisted instance") {
    val la = Artifacts.persist(rel())
    val lb = Artifacts.persist(rel())
    // ONE store entry, persisted at MEMORY_AND_DISK, serves both
    val held = heldFor(rel())
    assert(held.size == 1, "a fresh but semantically identical plan must reuse the entry")
    assert(held.head.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(leafOf(la) eq leafOf(lb),
      "leafed constructions must share ONE cache entry")
    assert(leafOf(la).storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(la.collect().length == 2)
  }

  test("a differently-aliased twin is NOT reused (canonicalization erases names)") {
    Artifacts.persist(rel())
    val renamed = Artifacts.persist(rel().withColumnsRenamed(Map("n" -> "cnt")))
    // two entries, each holding its own field names (Spark's cache may
    // still share the blocks: the plans have the same result)
    assert(heldFor(rel()).map(_.columns.toSeq) == Seq(Seq("s", "n")))
    assert(heldFor(rel().withColumnsRenamed(Map("n" -> "cnt"))).map(_.columns.toSeq) ==
      Seq(Seq("s", "cnt")), "schema names differ - reuse would break resolution")
    assert(renamed.columns.toSeq == Seq("s", "cnt"))
    assert(renamed.collect().length == 2)
  }

  test("release(session) unpersists and the next call re-registers") {
    def key() = Seq((9L, "z")).toDF("id", "s").groupBy("id").agg(max("s").as("m"))
    val a = Artifacts.persist(key())
    a.collect()
    val heldA = heldFor(key())
    assert(heldA.size == 1 && heldA.head.storageLevel != StorageLevel.NONE)
    assert(leafOf(a).isCachedColumnBuffersLoaded)
    Artifacts.release(spark)
    assert(heldA.head.storageLevel == StorageLevel.NONE, "release must unpersist")
    assert(!leafOf(a).isCachedColumnBuffersLoaded, "release must drop the blocks")
    assert(heldFor(key()).isEmpty, "release must forget the entry")
    val b = Artifacts.persist(key())
    assert(!(leafOf(a) eq leafOf(b)))
    assert(heldFor(key()).map(_.storageLevel) == Seq(StorageLevel.MEMORY_AND_DISK))
    Artifacts.release(spark)
  }
}
