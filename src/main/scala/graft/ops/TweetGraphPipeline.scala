package graft.ops

import graft.GraftStorage.Syntax
import graft.graph.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The full reference pipeline (constructor,
  * `RetweetTagsJaccardGraph.py:13-46`): retweet graph + hashtag graph +
  * Jaccard graph unified over a heterogeneous vertex set.
  *
  * Two relations are cached, once each, and every output reads them
  * instead of re-deriving the layers from the JSON scan (the reference
  * recomputes them on every action, SURVEY.md §7.4 #6):
  *   - `userTags`, the per-user tag mapping: it feeds the hashtag and
  *     Jaccard layers and the report's tag column;
  *   - the unified edge relation `full.edges`: the three layers are
  *     `type` filters over it, every vertex set is derived from it, and
  *     the full-graph CSV, the report's retweet/Jaccard rows and the
  *     2-hop neighbourhood all scan it.
  *
  * The edge cache holds `spark.sql.shuffle.partitions` partitions. The
  * union of the three layers has the sum of their partition counts, and
  * AQE never coalesces a cached plan's partitions
  * (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` is off by
  * default), so without the `coalesce` every reader of the cache would
  * run three times the session's tasks, each one paying a fixed
  * deserialization cost for a sliver of data.
  */
final case class TweetGraphs(
    retweet: Graph,
    hashtag: Graph,
    userTags: DataFrame,
    jaccard: Graph,
    full: Graph) {

  def report: DataFrame = Report.build(userTags, retweet.edges, jaccard.edges)

  def neighbours(id: String): Graph = Neighbours.extract(full, id)
}

object TweetGraphPipeline {

  def build(tweets: DataFrame, jaccardThreshold: Double = 0.5,
            onlyTagsFromNotRetweetedPosts: Boolean = false): TweetGraphs = {
    val tags = HashtagGraph.userTags(tweets, onlyTagsFromNotRetweetedPosts).persistTracked()
    val partitions = tweets.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // no distinct: each layer is unique on (src, dst) by its own groupBy,
    // and the layers differ in `type`
    val edges = RetweetGraph.edges(tweets)
      .union(HashtagGraph.edges(tags))
      .union(JaccardGraph.edges(tags, jaccardThreshold))
      .coalesce(partitions)
      .persistTracked()
    val full = Graph(Graph.verticesOf(edges), edges)
    def layer(edgeType: String) = full.filterEdges(col("type") === edgeType).withDerivedVertices
    TweetGraphs(layer("RT"), layer("HT"), tags, layer("JC"), full)
  }
}
