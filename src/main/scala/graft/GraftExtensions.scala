package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, IntegerLiteral}
import org.apache.spark.sql.graftexpr.{CdcChunks, DotProduct, GramLong, GramWide, HashWordNgrams, JaccardSet, MaxTokenCount, MisraGries, RepetitionStats, WordNgrams}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions for SQL users. Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `SparkSession.builder.withExtensions(new GraftExtensions)`.
  *
  * `SELECT graft_dot(a, b)` then plans as the codegen'd
  * [[org.apache.spark.sql.graftexpr.DotProduct]] loop; the text
  * expressions (`graft_word_ngrams(text, n)`,
  * `graft_hash_word_ngrams(text, n)`, `graft_max_token_count(text)`)
  * expose the one-pass tokenizer family the operators build on. The
  * `n` argument must be an integer literal (it is baked into the
  * generated code). `graft_cdc_chunks(text)` exposes the
  * content-defined chunker, `graft_repetition_stats(text)` the fused
  * Gopher repetition kernel and `graft_jaccard(a, b)` the one-pass
  * exact set Jaccard. `graft_heavy_hitters(item, k)` registers the
  * Misra-Gries frequent-items aggregate and `graft_gram(qvec, dim)`
  * the one-pass Gram/sums/count moments aggregate (k/dim likewise
  * literals). [[graft.operators.Present.SortShape]] plans each
  * presentation sort from the sizes AQE has measured.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def reg(ext: SparkSessionExtensions, name: String, clazz: Class[_],
      build: Seq[Expression] => Expression): Unit =
    ext.injectFunction((
      FunctionIdentifier(name),
      new ExpressionInfo(clazz.getName, name),
      build))

  private def litN(name: String, e: Expression): Int = e match {
    case IntegerLiteral(n) => n
    case other => throw new IllegalArgumentException(
      s"$name requires an integer literal n-gram size, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    reg(ext, "graft_dot", classOf[DotProduct], { children =>
      require(children.length == 2,
        s"graft_dot requires exactly 2 arguments, got ${children.length}")
      DotProduct(children(0), children(1))
    })
    reg(ext, "graft_word_ngrams", classOf[WordNgrams], { children =>
      require(children.length == 2,
        s"graft_word_ngrams requires (text, n), got ${children.length} arguments")
      WordNgrams(children(0), litN("graft_word_ngrams", children(1)))
    })
    reg(ext, "graft_hash_word_ngrams", classOf[HashWordNgrams], { children =>
      require(children.length == 2,
        s"graft_hash_word_ngrams requires (text, n), got ${children.length} arguments")
      HashWordNgrams(children(0), litN("graft_hash_word_ngrams", children(1)))
    })
    reg(ext, "graft_max_token_count", classOf[MaxTokenCount], { children =>
      require(children.length == 1,
        s"graft_max_token_count requires (text), got ${children.length} arguments")
      MaxTokenCount(children(0))
    })
    reg(ext, "graft_cdc_chunks", classOf[CdcChunks], { children =>
      require(children.length == 1,
        s"graft_cdc_chunks requires (text), got ${children.length} arguments")
      CdcChunks(children(0))
    })
    reg(ext, "graft_repetition_stats", classOf[RepetitionStats], { children =>
      require(children.length == 1,
        s"graft_repetition_stats requires (text), got ${children.length} arguments")
      RepetitionStats(children(0))
    })
    reg(ext, "graft_jaccard", classOf[JaccardSet], { children =>
      require(children.length == 2,
        s"graft_jaccard requires (a, b), got ${children.length} arguments")
      JaccardSet(children(0), children(1))
    })
    // aggregates: the analyzer wraps a bare AggregateFunction itself
    reg(ext, "graft_heavy_hitters", classOf[MisraGries], { children =>
      require(children.length == 2,
        s"graft_heavy_hitters requires (item, k), got ${children.length} arguments")
      MisraGries(children(0), litN("graft_heavy_hitters", children(1)))
    })
    reg(ext, "graft_gram", classOf[GramLong], { children =>
      require(children.length == 2,
        s"graft_gram requires (qvec, dim), got ${children.length} arguments")
      GramLong(children(0), litN("graft_gram", children(1)))
    })
    reg(ext, "graft_gram_wide", classOf[GramWide], { children =>
      require(children.length == 2,
        s"graft_gram_wide requires (qvec, dim), got ${children.length} arguments")
      GramWide(children(0), litN("graft_gram_wide", children(1)))
    })
    // Plans graft's TopKPerKey logical node as the bounded-heap operator.
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graftexpr.TopKStrategy)
    // Picks the physical shape of every presentation `.orderBy`.
    ext.injectQueryStagePrepRule(_ => graft.operators.Present.SortShape)
  }
}

/** doreisa `persist` / `prepare_iteration` analogs
  * (docs/analytics.md:67-138): computation kicked off in the background
  * while the caller keeps building the next iteration's plan. Spark
  * already builds plans lazily (the "preparation" half is free); the
  * async half is a FutureAction on the job. */
object Async {
  import org.apache.spark.FutureAction
  import org.apache.spark.sql.{DataFrame, Row}

  /** Start computing `df` in the background (doreisa `persist`). */
  def prepare(df: DataFrame): FutureAction[Seq[Row]] =
    df.rdd.collectAsync().asInstanceOf[FutureAction[Seq[Row]]]

  /** Background materialization into the cache: the analog of
    * `array.sum().persist()` — subsequent queries reuse the result. */
  def persistAsync(df: DataFrame): FutureAction[Long] = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.rdd.countAsync().asInstanceOf[FutureAction[Long]]
  }
}
