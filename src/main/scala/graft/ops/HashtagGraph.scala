package graft.ops

import graft.graph.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** User→hashtag graph (reference `RetweetTagsJaccardGraph.py:74-134`):
  * edge user→tag weighted by usage count, after tag normalization.
  * Also produces the per-user normalized tag list (`user_hts_mapping`)
  * consumed by [[JaccardGraph]] and [[Report]].
  *
  * Scale notes: two filtered nested projections union'd (no shuffle), one
  * groupBy(id) building the per-user tag set (`collect_set` →
  * ObjectHashAggregate; power-law users are the spill risk at 100 TB —
  * mitigate with a per-key cap upstream if corpus demands), one explode,
  * one groupBy(src, dst) count. The tag mapping is the shared subtree the
  * reference recomputes per action (SURVEY.md §7.4 #6). This object
  * caches nothing; [[TweetGraphPipeline]] caches the mapping (read by the
  * report) and the unified edge relation holding the HT edges (read by
  * the full-graph CSV, the report and the 2-hop neighbourhood).
  */
object HashtagGraph {

  /** Per-user normalized tag list `(id: string, hts: array<string>)`.
    *
    * @param onlyTagsFromNotRetweetedPosts reference flag
    *   (`RetweetTagsJaccardGraph.py:100-105`): when true, own-post tags are
    *   taken only from non-retweet posts (retweeted originals' tags still
    *   count toward the original author).
    */
  def userTags(tweets: DataFrame, onlyTagsFromNotRetweetedPosts: Boolean = false): DataFrame = {
    // tags credited to the ORIGINAL author of a retweeted post (:91-95)
    val fromRetweets = tweets
      .filter(expr("retweeted_status.user.id is NOT NULL"))
      .filter(expr("retweeted_status.hashtagEntities is NOT NULL"))
      .select(
        col("retweeted_status.user.id").cast("string").as("id"),
        col("retweeted_status.hashtagEntitiesArray").as("htea"))

    // tags of the posting user's own post (:97-108); constant-true branch
    // folds away in Catalyst exactly like the reference's filter("TRUE")
    val ownPostFilter =
      if (onlyTagsFromNotRetweetedPosts) expr("retweeted_status.user.id is NULL")
      else lit(true)
    val fromOwnPosts = tweets
      .filter(ownPostFilter)
      .filter(expr("user.id is not NULL"))
      .filter(expr("hashtagEntities is not NULL"))
      .select(col("user.id").cast("string").as("id"), col("hashtagEntitiesArray").as("htea"))

    fromOwnPosts.union(fromRetweets)
      .groupBy("id")
      // reference D2 `flatten` UDF → native flatten (:113)
      .agg(flatten(collect_set(col("htea"))).as("hts"))
      .withColumn("hts", Normalize.normalizeTags(col("hts")))
  }

  /** Edges `(src=user, dst=tag, w=count, type="HT")` (:118-128). Weight
    * counts tags post-dedup per user — i.e. it is the number of *users'
    * normalized tag list entries*, matching the reference which explodes
    * the deduped list (so w is 1 per (user, tag); kept as a count for
    * structural fidelity with the reference's groupBy).
    */
  def edges(tags: DataFrame): DataFrame =
    tags
      .select(col("id").as("src"), explode(col("hts")).as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      .select(col("src"), col("dst"), col("w").cast("double").as("w"),
        lit("HT").as("type"))

  /** Graph + the user→tags mapping. */
  def apply(tweets: DataFrame, onlyTagsFromNotRetweetedPosts: Boolean = false): (Graph, DataFrame) = {
    val tags = userTags(tweets, onlyTagsFromNotRetweetedPosts)
    val e = edges(tags)
    (Graph(Graph.verticesOf(e), e), tags)
  }
}
