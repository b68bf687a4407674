package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Session-scoped registry for intermediate tables that multiple
  * catalog queries share (shingle sets, LSH bucket tables). Round 1
  * persisted these inline per query, which (a) re-cached the same plan
  * on every catalog run ("Asked to cache already cached data" warnings
  * in the driver log) and (b) never released them. The registry
  * materializes a given (session, key) once, persisted
  * ([[getOrPersist]]) or eagerly checkpointed ([[checkpoint]]); it
  * hands the SAME DataFrame to every subsequent query in the session
  * and frees everything via [[release]] — called by Bench/Verify
  * before session stop, and safe to call between queries.
  *
  * Keys use the session's `sessionUUID` — unique for the JVM's
  * lifetime, so a stopped-and-recreated session (test suites) can
  * never collide with another session's cached plans (identity
  * hash codes, used in round 2, can be reused by the allocator).
  * Entries owned by a session whose SparkContext has stopped are
  * swept on every access, so a caller that forgets [[release]]
  * leaks at most until the next cache lookup, not for the JVM
  * lifetime.
  */
object GraftCaches {
  /** A registered frame; `checkpointed` marks a [[checkpoint]] entry,
    * whose blocks belong to its checkpoint RDD, not the cache manager. */
  private final case class Entry(df: DataFrame, checkpointed: Boolean)

  private val entries =
    scala.collection.concurrent.TrieMap.empty[(String, String), Entry]

  /** Weakly-held per-session UUID (Spark's own `sessionUUID` is
    * `private[sql]`). Unlike the identity hash codes round 2 keyed on,
    * a UUID is unique for the JVM lifetime — the allocator can hand a
    * dead session's identity hash to a new object, which would return
    * a cached DataFrame bound to a stopped session. */
  private val sessionIds =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  private def uuidOf(s: SparkSession): String =
    sessionIds.computeIfAbsent(s, _ => java.util.UUID.randomUUID().toString)

  private def sessionKey(s: SparkSession, key: String): (String, String) =
    (uuidOf(s), key)

  /** Drop entries bound to a dead session. Their blocks died with the
    * context, so forgetting the handle is the whole cleanup. */
  private def sweepStopped(): Unit =
    entries.filter(_._2.df.sparkSession.sparkContext.isStopped)
      .keys.foreach(entries.remove)

  /** Get the cached DataFrame for `key`, persisting `build` on first
    * use. MEMORY_AND_DISK: at cluster scale these are checkpoints, on
    * local[32] an in-memory persist. */
  def getOrPersist(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    sweepStopped()
    entries.getOrElseUpdate(sessionKey(s, key),
      Entry(build.persist(StorageLevel.MEMORY_AND_DISK), checkpointed = false)).df
  }

  /** Get the frame for `key`, materializing `build` once, EAGERLY and
    * with its lineage cut (`localCheckpoint()`). Unlike [[getOrPersist]]
    * the entry plans as a flat scan: no child plan for the analyzer to
    * re-walk, no broadcast relations pinned by a cached plan, and no
    * per-reader cache-fill job. [[release]] frees its blocks with the
    * rest of the session's entries. */
  def checkpoint(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    sweepStopped()
    entries.getOrElseUpdate(sessionKey(s, key),
      Entry(build.localCheckpoint(), checkpointed = true)).df
  }

  /** Free an entry's storage: unpersist a persisted frame; for a
    * checkpointed one, unpersist the checkpoint RDD its plan scans. */
  private def free(e: Entry): Unit =
    if (!e.df.sparkSession.sparkContext.isStopped) {
      if (!e.checkpointed) e.df.unpersist(false)
      else e.df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
        .foreach(_.unpersist(false))
    }

  /** Free and forget every cache owned by `s`. */
  def release(s: SparkSession): Unit = {
    val id = uuidOf(s)
    entries.keys.filter(_._1 == id).foreach(k => entries.remove(k).foreach(free))
    sweepStopped()
  }

  /** Live entry count — test hook for lifecycle hygiene. */
  private[graft] def size: Int = entries.size
}
