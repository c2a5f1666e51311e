package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-user flat report (reference `exportReport`,
  * `RetweetTagsJaccardGraph.py:194-243`): for each user — normalized tags,
  * users they retweeted-relationship with (both directions), and their
  * Jaccard-similar peers. Columns: user | hashTags | retweetUsers |
  * beRetweetUsers | jaccardUsers (arrays stringified as "[a,b,c]").
  *
  * The reference is a cascade of three left joins, each followed by a
  * regroup on the user AND every array collected so far (`:200-232`),
  * and its third join matches JC edges on EITHER endpoint with an OR
  * condition (`:225-227`), which Spark can only plan as a
  * BroadcastNestedLoopJoin. Rewritten as one aggregation and one join:
  *   - every RT and JC edge is exploded into a `(user, kind, other)` row
  *     per endpoint: an RT edge gives its `src` a retweeted user and its
  *     `dst` a be-retweeted user, a JC edge gives each endpoint the other;
  *   - ONE `groupBy(user)` collects the three peer sets side by side with
  *     `collect_set(when(kind = …, other))` (`collect_set` skips the
  *     nulls of the other kinds), so no array is ever a grouping key;
  *   - ONE left equi-join from the tag mapping keeps the reference's row
  *     set (every tagged user, and only those), and users without a match
  *     get `[]` exactly as the reference's `collect_set` over a null-padded
  *     left join does.
  * Same output as the cascade: each of its collect_sets sees the same
  * peers for the same user, and the tag mapping is one row per user.
  *
  * Divergence (documented): collected arrays are `array_sort`ed for
  * deterministic output; the reference's array order is whatever
  * `collect_set` produced.
  */
object Report {

  def build(userTags: DataFrame, rtEdges: DataFrame, jcEdges: DataFrame): DataFrame = {
    // both endpoints of an edge, each with the peer it sees at the other end
    def endpoints(edges: DataFrame, srcKind: String, dstKind: String): DataFrame =
      edges.select(explode(array(
        struct(col("src").as("user"), lit(srcKind).as("kind"), col("dst").as("other")),
        struct(col("dst").as("user"), lit(dstKind).as("kind"), col("src").as("other")))).as("e"))
        .select("e.*")
    def peers(kind: String): Column = array_sort(collect_set(when(col("kind") === kind, col("other"))))

    val perUser = endpoints(rtEdges, "rt", "bert").union(endpoints(jcEdges, "jc", "jc"))
      .groupBy(col("user"))
      .agg(peers("rt").as("rt_users"), peers("bert").as("bert_users"),
        array_except(peers("jc"), array(col("user"))).as("jc_users"))

    def orEmpty(c: String): Column = coalesce(col(c), array().cast("array<string>"))
    userTags
      .join(perUser, userTags("id") === perUser("user"), "left")
      .select(
        userTags("id").as("user"),
        Normalize.stringifyArray(col("hts")).as("hashTags"),
        Normalize.stringifyArray(orEmpty("rt_users")).as("retweetUsers"),
        Normalize.stringifyArray(orEmpty("bert_users")).as("beRetweetUsers"),
        Normalize.stringifyArray(orEmpty("jc_users")).as("jaccardUsers"))
  }

  /** Power BI CSV export (`:242-243`): single file, `;` separator. */
  def save(report: DataFrame, path: String): Unit =
    report.coalesce(1).write.mode("overwrite")
      .option("header", "true").option("sep", ";")
      .csv(s"$path/exportPowerBI")
}
