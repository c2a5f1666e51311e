package graft

import graft.GraftStorage.Syntax
import org.apache.spark.sql.functions.col

/** The owning-cleanup contract (round-6 verdict #4): library entry points
  * persist hub relations their lazy results reference, so they cannot
  * unpersist eagerly — GraftStorage tracks every such persist and
  * `clear()` releases them once the caller has consumed the result. These
  * are the registry's unit tests; "no persisted blocks remain after
  * consuming each catalog query" is checked over the whole catalog in
  * [[CatalogSweepSpec]].
  */
class GraftStorageSpec extends SparkTestBase {

  test("persistTracked registers and clear releases blocks + cache entry") {
    import spark.implicits._
    val before = GraftStorage.trackedCount
    val df = Seq(1, 2, 3).toDF("x").persistTracked()
    assert(df.count() === 3)
    assert(GraftStorage.trackedCount === before + 1)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    GraftStorage.clear(spark)
    assert(GraftStorage.trackedCount === 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("clear releases iterative-loop local checkpoints too") {
    import spark.implicits._
    // localCheckpoint persists at the RDD level, bypassing the
    // CacheManager — the sweep half of clear() must still release it
    val ck = Seq(1, 2, 3).toDF("x").localCheckpoint(true)
    assert(ck.count() === 3)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    GraftStorage.clear(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("two concurrent sessions: clear is session-scoped, no cross-release") {
    import spark.implicits._
    val other = spark.newSession()
    // each session persists its own relation through the tracked path
    val mine = Seq(1, 2, 3).toDF("x").persistTracked()
    val theirsDf = { val s = other; import s.implicits._
      Seq(4, 5, 6).toDF("y") }
    val theirs = GraftStorage.persisted(theirsDf)
    assert(mine.count() === 3 && theirs.count() === 3)
    assert(GraftStorage.trackedCount(spark) === 1)
    assert(GraftStorage.trackedCount(other) === 1)
    // clearing MY session must not release the other session's handle
    // (sweepCheckpoints = false: the RDD sweep is the documented
    // context-wide step, exercised separately above)
    GraftStorage.clear(spark, sweepCheckpoints = false)
    assert(GraftStorage.trackedCount(spark) === 0)
    assert(GraftStorage.trackedCount(other) === 1)
    assert(theirs.storageLevel.useMemory,
      "other session's tracked persist was cross-released")
    GraftStorage.clear(other)
    assert(GraftStorage.trackedCount === 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("default checkpoint sweep defers while another session holds tracked handles") {
    import spark.implicits._
    val other = spark.newSession()
    val theirs = GraftStorage.persisted({ val s = other; import s.implicits._
      Seq(4, 5).toDF("y") })
    assert(theirs.count() === 2)
    val mine = Seq(1, 2, 3).toDF("x").persistTracked()
    assert(mine.count() === 3)
    // DEFAULT clear (sweepCheckpoints = true): the context-wide RDD sweep
    // must auto-skip because `other` still holds a tracked handle —
    // otherwise it would unpersist theirs' blocks behind its back
    GraftStorage.clear(spark)
    assert(GraftStorage.trackedCount(spark) === 0)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "sweep ran while a sibling session still tracked handles")
    // the LAST session to clear performs the deferred sweep
    GraftStorage.clear(other)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("withTracked releases pinned blocks on exit — no explicit clear") {
    import spark.implicits._
    // a library caller composing a pin-returning entry point and never
    // calling clear: the scoped helper must release on exit (r9 verdict
    // task #6 — the residual of ADVICE r8 #1)
    val n = GraftStorage.withTracked(spark) {
      val pinned = Seq(1, 2, 3, 4).toDF("x").persistTracked()
      pinned.count()
    }
    assert(n === 4)
    assert(GraftStorage.trackedCount(spark) === 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("withTracked releases on throw too") {
    import spark.implicits._
    intercept[RuntimeException] {
      GraftStorage.withTracked(spark) {
        val pinned = Seq(1, 2).toDF("x").persistTracked()
        pinned.count()
        throw new RuntimeException("consumer died")
      }
    }
    assert(GraftStorage.trackedCount(spark) === 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("releaseCheckpoint only fires on the checkpoint itself, not derived plans") {
    import spark.implicits._
    val ck = Seq(1, 2, 3).toDF("x").localCheckpoint(true)
    assert(ck.count() === 3)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    // a DERIVED DataFrame merely embeds the checkpoint leaf — releasing
    // through it would destroy blocks its consumers cannot recompute
    // (lineage is truncated), so the guarded helper must no-op
    GraftStorage.releaseCheckpoint(ck.filter(col("x") > 1))
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "derived-plan release destroyed a live checkpoint")
    assert(ck.filter(col("x") > 1).count() === 2)
    // the checkpoint itself releases as before
    GraftStorage.releaseCheckpoint(ck)
    // unpersist is async (blocking=false) — poll briefly
    val deadline = System.nanoTime() + 5e9.toLong
    while (spark.sparkContext.getPersistentRDDs.nonEmpty &&
           System.nanoTime() < deadline) Thread.sleep(20)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
