package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.graftexpr.CacheBridge
import org.apache.spark.storage.StorageLevel

import graft.arrays.ChunkedArray
import graft.sources.Tables

/** The one memo store for everything derived from the input tables:
  * loaded frames, persisted relations, memoized chunk arrays, and the
  * driver-side fits and trained models the serving faces and the
  * trained-literal oracles read — the batch analog of the reference's
  * keep-while-referenced / free-on-expiry chunk policy
  * (tests/test_memory_release.py), and Shark's single explicitly
  * managed in-memory cache instead of one cache per operator.
  *
  * One key. Every entry sits in ONE slot — (session, dir, name) for
  * table-derived entries, (session, canonicalized plan, field names)
  * for plan-keyed relations — and carries the CONTENT fingerprint of
  * its inputs ([[Tables.fingerprint]] of the named table; for a plan,
  * the listed files of every parquet leaf). A lookup whose fingerprint
  * differs from the slot's replaces the entry (unpersisting it first,
  * so Spark's plan-keyed CacheManager cannot hand the stale blocks back
  * to the rebuild): data rewritten in place is recomputed, never
  * served stale. An unfingerprintable table skips the memo entirely.
  * Plan slots keep the identity rule of Spark's own cache: canonical
  * plans compare by `sameResult` (canonicalized equality), and field
  * names are part of the key because canonicalization erases aliases.
  *
  * Three scopes:
  *  - [[fit]]: driver-side values (k x k fits, trained models). No
  *    session in the key — they survive [[release]] and session
  *    restarts, and the oracles read them ([[forOracle]]).
  *  - [[scoped]]: session-bound values (frames, label relations).
  *  - [[stored]] / [[persist]]: session-bound Spark storage, persisted
  *    at MEMORY_AND_DISK by the store and unpersisted by it.
  *
  * One bound: beyond [[MaxEntries]], entries of stopped sessions go
  * first, then least-recently-used ones. One release path: [[release]]
  * drops a session's entries and unpersists its storage.
  *
  * A build runs outside the store lock (it may run jobs) under its
  * entry's own lock, so concurrent first calls build once. */
object Artifacts {

  val MaxEntries = 512

  private final case class Key(session: SparkSession, dir: String, name: String,
      plan: LogicalPlan)

  private final class Entry(val key: Key, val fp: String, val storage: Boolean) {
    @volatile var value: Any = null
    @volatile var ready = false
    @volatile var dropped = false
  }

  // accessOrder = true: iteration walks least-recently-used first
  private val entries = new java.util.LinkedHashMap[Key, Entry](64, 0.75f, true)

  @volatile private var oracleDir: String = null
  @volatile private var lastDir: String = null

  /** A driver-side value derived from `table` under `dir`. */
  def fit[T](s: SparkSession, dir: String, table: String, name: String)(build: => T): T = {
    lastDir = dir
    ofTable(s, dir, table, Key(null, dir, name, null), storage = false)(build)
  }

  /** A session-bound value derived from `table` under `dir`. */
  def scoped[T](s: SparkSession, dir: String, table: String, name: String)(build: => T): T =
    ofTable(s, dir, table, Key(s, dir, name, null), storage = false)(build)

  /** A session-bound DataFrame or [[ChunkedArray]] derived from `table`
    * under `dir`, persisted at MEMORY_AND_DISK by the store. Returned
    * as stored: callers serving it re-root at its cache leaf. */
  def stored[T](s: SparkSession, dir: String, table: String, name: String)(build: => T): T =
    ofTable(s, dir, table, Key(s, dir, name, null), storage = true)(build)

  // unverifiable content: no memo (and no persist)
  private def ofTable[T](s: SparkSession, dir: String, table: String, key: Key,
      storage: Boolean)(build: => T): T =
    Tables.fingerprint(s, dir, table) match {
      case None => build
      case Some(fp) => lookup(key, fp, storage)(build)
    }

  /** Persist `df`, or return the already-persisted relation of a
    * semantically identical plan over the same file contents in this
    * session — re-rooted at its cache entry's InMemoryRelation
    * ([[CacheBridge]]), so consumers
    * embed one leaf instead of the full analyzed tree. */
  def persist(df: DataFrame): DataFrame = {
    val analyzed = df.queryExecution.analyzed
    val key = Key(df.sparkSession, null, df.schema.fieldNames.mkString(","),
      analyzed.canonicalized)
    CacheBridge.asCachedLeaf(lookup(key, planFingerprint(analyzed), storage = true)(df))
  }

  /** A session-bound value keyed by `df`'s plan identity plus `name`
    * (e.g. statistics collected from the relation). */
  def ofPlan[T](df: DataFrame, name: String)(build: => T): T = {
    val analyzed = df.queryExecution.analyzed
    lookup(Key(df.sparkSession, null, name, analyzed.canonicalized),
      planFingerprint(analyzed), storage = false)(build)
  }

  /** Drop every session-bound entry of `s` (all sessions when null),
    * unpersisting storage (blocking: the executors have dropped the
    * blocks on return); the next request rebuilds from source.
    * Driver-side fits survive. */
  def release(s: SparkSession = null): Unit = entries.synchronized {
    removeWhere(e => e.key.session != null && (s == null || (e.key.session eq s)),
      blocking = true)
  }

  /** Drop the entries whose name satisfies `p`, in every scope. */
  private[graft] def forget(p: String => Boolean): Unit = entries.synchronized {
    removeWhere(e => p(e.key.name), blocking = false)
  }

  /** Pin which dir [[forOracle]] reads (Verify pins its data dir before
    * dumping the oracle SQL); unpinned, the dir of the latest [[fit]]. */
  def setOracleDir(dir: String): Unit = oracleDir = dir

  /** The built driver-side value `name` for the oracle dir, if any. */
  def forOracle[T](name: String): Option[T] = {
    val dir = Option(oracleDir).getOrElse(lastDir)
    entries.synchronized {
      val it = entries.values.iterator
      var hit: Option[T] = None
      while (hit.isEmpty && it.hasNext) {
        val e = it.next()
        if (e.ready && e.key.session == null && e.key.dir == dir && e.key.name == name)
          hit = Some(e.value.asInstanceOf[T])
      }
      hit
    }
  }

  /** The stored frames `s` holds (spec introspection). */
  private[graft] def held(s: SparkSession): Seq[DataFrame] = entries.synchronized {
    val out = Seq.newBuilder[DataFrame]
    entries.values.forEach(e =>
      if (e.ready && e.storage && (e.key.session eq s)) frameOf(e.value).foreach(out += _))
    out.result()
  }

  private def lookup[T](key: Key, fp: String, storage: Boolean)(build: => T): T = {
    val e = entries.synchronized {
      val cur = entries.get(key)
      if (cur != null && cur.fp == fp) cur
      else {
        // a different fingerprint: the inputs changed under this slot
        if (cur != null) { entries.remove(key); drop(cur, blocking = true) }
        val fresh = new Entry(key, fp, storage)
        entries.put(key, fresh)
        bound(fresh)
        fresh
      }
    }
    e.synchronized {
      if (!e.ready) {
        try {
          val v = build
          if (storage) frameOf(v).foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
          e.value = v
          e.ready = true
          // evicted while building: nobody else will unpersist it
          if (e.dropped) drop(e, blocking = false)
        } catch {
          case t: Throwable =>
            entries.synchronized { if (entries.get(key) eq e) entries.remove(key) }
            throw t
        }
      }
      e.value.asInstanceOf[T]
    }
  }

  private def bound(keep: Entry): Unit =
    if (entries.size > MaxEntries) {
      removeWhere(e => e.key.session != null && e.key.session.sparkContext.isStopped,
        blocking = false)
      val lru = entries.values.iterator
      while (entries.size > MaxEntries && lru.hasNext) {
        val e = lru.next()
        if (e ne keep) { lru.remove(); drop(e, blocking = false) }
      }
    }

  private def removeWhere(p: Entry => Boolean, blocking: Boolean): Unit = {
    val it = entries.values.iterator
    while (it.hasNext) {
      val e = it.next()
      if (p(e)) { it.remove(); drop(e, blocking) }
    }
  }

  private def drop(e: Entry, blocking: Boolean): Unit = {
    e.dropped = true
    // unpersist may throw against a stopped context; the entry goes regardless
    if (e.storage && e.ready) frameOf(e.value).foreach(d =>
      try d.unpersist(blocking) catch { case _: Throwable => () })
  }

  private def frameOf(v: Any): Option[DataFrame] = v match {
    case d: Dataset[_] => Some(d.toDF())
    case a: ChunkedArray => Some(a.df)
    case _ => None
  }

  /** The listed files (path, size, mtime) of every parquet leaf of a
    * plan — read from the file index the frame already holds, so no
    * new listing runs. Non-file leaves (local relations, RDDs, cached
    * relations) are identified by the plan itself. */
  private def planFingerprint(plan: LogicalPlan): String =
    plan.collectWithSubqueries {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location match {
        case idx: PartitioningAwareFileIndex =>
          idx.allFiles().map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
            .sorted.mkString(";")
        case other => other.inputFiles.sorted.mkString(";")
      }
    }.mkString("|")

  /** Chain-position sugar: `relation.cachedPersist()` ==
    * `Artifacts.persist(relation)`. */
  implicit final class PersistOps(private val df: DataFrame) extends AnyVal {
    def cachedPersist(): DataFrame = Artifacts.persist(df)
  }
}
