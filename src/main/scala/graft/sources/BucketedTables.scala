package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed parquet tables — the CO-LOCATED JOIN primitive. Two tables
  * bucketed by the same key into the same bucket count join with NO
  * exchange on either side: each task reads matching bucket files
  * directly. At 100 TB this is the difference between re-shuffling two
  * fact tables on every join and reading pre-partitioned data — bucket
  * ONCE at ingest, join for free forever after.
  *
  * Bucketing requires the catalog (`saveAsTable`); Spark's bucket layout
  * is hash(key) % numBuckets per file group, preserved across sessions.
  * `sortBy` on the same key additionally pre-sorts each bucket file, so a
  * sort-merge join skips its per-task sort too. Pick `numBuckets` for the
  * TARGET scale (buckets are the parallelism floor for bucket-reads):
  * ~2-4× expected executor count, NOT tuned to today's corpus.
  */
object BucketedTables {

  /** Write `df` as a bucketed (and per-bucket sorted) parquet table. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    numBuckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** Equi-join two same-key same-bucket-count tables — plans with zero
    * Exchange operators (verify with [[hasExchange]] / `cli.PlanDump`). The
    * MERGE hint pins a sort-merge join: bucketing exists for big⨝big
    * joins where neither side broadcasts, and at test scale the planner
    * would otherwise broadcast the small side (a BroadcastExchange —
    * cheap here, impossible at the scale buckets are for).
    */
  def colocatedJoin(spark: SparkSession, left: String, right: String,
                    key: String): DataFrame =
    spark.table(left).hint("MERGE").join(spark.table(right).hint("MERGE"), Seq(key))

  /** True when the executed plan still contains a shuffle — the check that
    * the co-location contract actually held (a bucket-count or key
    * mismatch silently degrades to a normal shuffled join).
    */
  def hasExchange(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange")
}
