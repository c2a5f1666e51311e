package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Owning-session registry for every intermediate relation the library
  * pins: the relations it `persist()`s (ranked shingle hubs, LSH keys, BPE
  * vocab, k-means cell assignments, …) and the ones it local-checkpoints
  * as flat leaves (the tweet graph's tag mapping and edge relation).
  *
  * Those relations are referenced by the LAZY DataFrames the entry points
  * return, so the library cannot release them eagerly — the caller
  * hasn't consumed the result yet. Before this registry, the blocks
  * simply accumulated for the life of the session (executor memory
  * pinned across jobs; Bench worked around it with a manual
  * `cacheManager.clearCache()` sweep). The contract now is:
  *
  *   1. library code pins through [[persisted]] or [[checkpointed]],
  *      which record the exact Dataset handle they pinned UNDER ITS
  *      OWNING SparkSession;
  *   2. the session owner calls [[clear]] after CONSUMING each result —
  *      between queries in a harness, per job in production.
  *
  * Which pin to choose:
  *   - [[persisted]] is lazy: the first action fills the cache, and a
  *     lost block is recomputed from the lineage the `InMemoryRelation`
  *     keeps. It suits relations an entry point may never read (the ANN
  *     paths) and ones too large to hold deserialized. Every reader plans
  *     over the cached plan, though: AQE renders it into each stage's
  *     description, the SQL status store retains that text per
  *     execution, and a self-join over it plans both sides separately.
  *   - [[checkpointed]] is eager: it runs the relation's job at once and
  *     hands back a one-node `LogicalRDD` leaf, so a reader's plan — and
  *     each retained SQL execution's plan record — holds only its own
  *     operators, and two identical reads of the leaf share one
  *     exchange. The cost is lineage: a lost executor's blocks are gone
  *     for good, and later readers fail loudly instead of recomputing.
  *     It suits relations every later step reads.
  *
  * Tracking is scoped PER SESSION: `clear(a)` releases only handles
  * created through session `a`, so two sessions of the same context
  * (`spark.newSession()`, or a streaming query beside a batch query)
  * can interleave pins without cross-releasing each other's tracked
  * relations.
  *
  * The checkpoint sweep is the one deliberately CONTEXT-wide step:
  * after the handle walk, [[clear]] sweeps `sc.getPersistentRDDs` for
  * the untracked RDD-level local checkpoints the iterative
  * graph/clustering loops leave behind (those never enter the
  * CacheManager or this registry — and Spark does not attribute RDDs to
  * sessions). Because the sweep cannot distinguish sessions, [[clear]]
  * SKIPS it automatically whenever another session still holds tracked
  * handles — a multi-session deployment never cross-releases by default;
  * the last session to clear performs the sweep. Abandoned sessions
  * don't leak: keys are weak (an unreferenced session with an EMPTY
  * queue collects), and every tracking call prunes entries whose
  * SparkContext has stopped — necessary because a queued Dataset
  * strongly references its session through the queue, so weak keys
  * alone cannot collect a session that still holds tracked handles.
  */
object GraftStorage {
  // weak keys: the registry must never be the thing keeping a forgotten
  // SparkSession (and its queued Dataset handles) reachable.
  // Collections.synchronizedMap covers the default-method compute* too
  // (overridden in SynchronizedMap since Java 8); iteration synchronizes
  // on the map per its contract.
  private val tracked = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[
      SparkSession, java.util.concurrent.ConcurrentLinkedQueue[Pin]]())

  /** A tracked handle and how [[clear]] releases it. */
  private final case class Pin(ds: Dataset[_], checkpoint: Boolean) {
    def release(): Unit =
      if (checkpoint) releaseCheckpoint(ds) else ds.unpersist(blocking = false)
  }

  private def track(spark: SparkSession, pin: Pin): Unit = {
    pruneStopped()
    tracked.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[Pin]()).add(pin)
  }

  /** `df.persist(MEMORY_AND_DISK)`, recorded for a later [[clear]]. */
  private[graft] def persisted(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    track(df.sparkSession, Pin(p, checkpoint = false))
    p
  }

  /** `df.localCheckpoint(eager = true, MEMORY_AND_DISK)`, recorded for a
    * later [[clear]]: runs `df`'s job now and returns a one-node
    * `LogicalRDD` leaf over its blocks. The blocks hold deserialized rows
    * (in memory, spilling to disk): reads skip decoding, at several times
    * the bytes of a columnar `persist` — see the scaladoc of this object
    * for when to choose which.
    */
  private[graft] def checkpointed(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(eager = true, storageLevel = StorageLevel.MEMORY_AND_DISK)
    track(df.sparkSession, Pin(c, checkpoint = true))
    c
  }

  /** Drop entries whose SparkContext has stopped: their blocks are gone
    * with the executors, and a queued Dataset strongly references its
    * session THROUGH the queue (value→key), so the weak keys alone can't
    * collect a session that still has tracked handles — this prune is
    * what actually releases an abandoned-and-stopped session's queue.
    */
  private def pruneStopped(): Unit = tracked.synchronized {
    val it = tracked.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey != null && e.getKey.sparkContext.isStopped) it.remove()
    }
  }

  /** How many persisted handles are currently tracked across all
    * sessions (spec/debug aid).
    */
  def trackedCount: Int = tracked.synchronized {
    var n = 0
    tracked.forEach((_, q) => n += q.size())
    n
  }

  /** Tracked handles owned by one session. */
  def trackedCount(spark: SparkSession): Int = {
    val q = tracked.get(spark)
    if (q == null) 0 else q.size()
  }

  /** Does any session OTHER than `spark` currently hold tracked handles?
    * (The context-wide checkpoint sweep defers to them — see [[clear]].)
    */
  private def othersTracking(spark: SparkSession): Boolean = tracked.synchronized {
    var found = false
    tracked.forEach((s, q) => if (!(s eq spark) && !q.isEmpty) found = true)
    found
  }

  /** Postfix forms: `df.persistTracked()` ≡ [[persisted]] and
    * `df.checkpointTracked()` ≡ [[checkpointed]] — keep the call sites
    * chainable.
    */
  implicit class Syntax(private val df: DataFrame) extends AnyVal {
    private[graft] def persistTracked(): DataFrame = GraftStorage.persisted(df)
    private[graft] def checkpointTracked(): DataFrame = GraftStorage.checkpointed(df)
  }

  /** Release the RDD blocks behind an eagerly `localCheckpoint`ed
    * Dataset the moment its round is superseded, instead of letting
    * every round of an iterative loop stay pinned until the next
    * [[clear]] sweep (a library caller that never clears would
    * accumulate one checkpoint per round per invocation). GUARDED to
    * the checkpoint shape: it unpersists ONLY when the plan is exactly
    * one `LogicalRDD` leaf (what `localCheckpoint(true)` returns) — a
    * derived DataFrame whose plan merely EMBEDS a still-live checkpoint
    * leaf is a no-op, because local checkpoints truncate lineage and
    * unpersisting a live one behind its consumers would fail them with
    * "checkpoint block not found". Non-checkpoint plans are a safe no-op.
    * [[clear]] releases every [[checkpointed]] handle through it.
    */
  private[graft] def releaseCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Run `f` and release every block graft pinned through `spark` on
    * exit (normal OR exceptional) — the SCOPED form of the [[clear]]
    * contract, for library callers composing graft entry points
    * (`candidatePairs`/`topK`/`earliestArrival`/… pin relations their
    * lazy results reference): forgetting the manual `clear` leaks pinned
    * blocks for the session; this helper cannot forget. The returned
    * value must be CONSUMED (collected / written / aggregated) inside
    * `f` — a lazy DataFrame escaping the scope recomputes its persisted
    * inputs from source (correct, just uncached) and fails on its
    * checkpointed ones (their lineage is cut). Scopes on one session
    * should nest, not interleave: exit releases whatever the session
    * tracks at that moment.
    */
  def withTracked[T](spark: SparkSession)(f: => T): T =
    try f finally clear(spark)

  /** Release every block graft pinned through `spark`: tracked persists
    * are unpersisted and tracked checkpoints released by their handles
    * ([[releaseCheckpoint]]), so neither waits on the sweep. Call once
    * the returned DataFrames have been consumed; results not yet
    * materialized recompute from source afterwards (correct, just
    * uncached) — except over a released checkpoint, whose lineage is cut:
    * those fail. Handles tracked by OTHER sessions are untouched;
    * `sweepCheckpoints` additionally drops the context-wide local
    * checkpoints — but the sweep AUTO-SKIPS while any other session
    * still holds tracked handles (it cannot tell whose RDDs are whose,
    * and unpersisting a sibling session's live cache behind its back is
    * worse than letting loop checkpoints wait for the last clear).
    */
  def clear(spark: SparkSession, sweepCheckpoints: Boolean = true): Unit = {
    val q = tracked.remove(spark)
    if (q != null) {
      var p = q.poll()
      while (p != null) { p.release(); p = q.poll() }
    }
    if (sweepCheckpoints && !othersTracking(spark))
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
  }
}
