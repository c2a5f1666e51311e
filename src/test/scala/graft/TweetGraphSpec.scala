package graft

import graft.ops._
import graft.tweets.TweetSchema
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** Golden end-to-end test of the reference pipeline on the hand-computable
  * fixture (FIXTURES.md §1): users 1, 2, 3, 8001112; a retweet pair; two
  * users sharing 2 normalized tags (accent/case variants) → JC edge; one
  * single-tag user with no JC edge.
  */
class TweetGraphSpec extends SparkTestBase {

  lazy val tweets = TweetSchema.read(spark, "src/test/resources/tweets.jsonl")
  lazy val graphs = TweetGraphPipeline.build(tweets)

  private def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(String, String, Double, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getString(3))).toSet

  test("retweet graph: author→retweeter edges with counts") {
    assert(edgeSet(graphs.retweet.edges) ===
      Set(("1", "2", 1.0, "RT"), ("3", "8001112", 1.0, "RT")))
    assert(graphs.retweet.vertices.collect().map(_.getString(0)).toSet ===
      Set("1", "2", "3", "8001112"))
  }

  test("hashtag graph: normalized (lower/de-accent/dedup) user→tag edges") {
    assert(edgeSet(graphs.hashtag.edges) === Set(
      ("1", "spark", 1.0, "HT"), ("1", "bigdata", 1.0, "HT"),
      ("3", "spark", 1.0, "HT"), ("3", "bigdata", 1.0, "HT"),
      ("2", "solo", 1.0, "HT")))
  }

  test("jaccard graph: pair sharing 2 tags, string-ordered (src > dst)") {
    assert(edgeSet(graphs.jaccard.edges) === Set(("3", "1", 1.0, "JC")))
  }

  test("user tags mapping: retweeted originals credit the original author") {
    val tags = graphs.userTags.collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    // user 1's tags come from own posts AND user 2's retweet of their post
    assert(tags("1") === List("bigdata", "spark"))
    assert(tags("3") === List("bigdata", "spark"))
    assert(tags("2") === List("solo"))
    assert(!tags.contains("8001112")) // no tags anywhere
  }

  test("full graph: union of all edges, heterogeneous string vertex set") {
    assert(graphs.full.edges.count() === 8)
    val v = graphs.full.vertices.collect().map(_.getString(0)).toSet
    assert(v === Set("1", "2", "3", "8001112", "spark", "bigdata", "solo"))
  }

  test("report: tags | retweeted | be-retweeted | jaccard peers per user") {
    val rows = graphs.report.collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
      .toMap
    assert(rows("1") === (("[bigdata,spark]", "[2]", "[]", "[3]")))
    assert(rows("3") === (("[bigdata,spark]", "[8001112]", "[]", "[1]")))
    assert(rows("2") === (("[solo]", "[]", "[1]", "[]")))
  }

  test("2-hop neighbours of 1: dst-only expansion, HT in final but not frontier") {
    val edges = edgeSet(graphs.neighbours("1").edges)
    assert(edges === Set(
      ("1", "2", 1.0, "RT"),          // 1-hop
      ("3", "1", 1.0, "JC"),          // 1-hop (1 as dst)
      ("1", "spark", 1.0, "HT"), ("1", "bigdata", 1.0, "HT"), // HT of seed
      ("2", "solo", 1.0, "HT")))      // HT of frontier user 2
      // note: 3's HT edges absent — 3 entered via src of a JC edge, and the
      // reference's frontier only expands through dst endpoints
  }

  test("onlyTagsFromNotRetweetedPosts drops own-post tags of retweeting posts") {
    val g2 = TweetGraphPipeline.build(tweets, onlyTagsFromNotRetweetedPosts = true)
    // fixture retweets carry no own-post tags, so mapping is unchanged here;
    // the flag's filter must still parse and run
    assert(g2.userTags.count() === 3)
  }

  test("wordcloud text prefers the retweeted original and strips non-alpha") {
    val txts = TextClean.wordcloudText(tweets).collect().map(_.getString(0)).sorted
    assert(txts === Array(
      "hello spark world", "hello spark world", // own post + rt of it (42 stripped)
      "my solo post", "second post",
      "unicode tëst", "unicode tëst"))          // \p{L} keeps the accented token (isalpha parity)
  }

  test("graph save + filterEdges round trip") {
    val out = java.nio.file.Files.createTempDirectory("graphsave").toString
    graphs.full.save(out, "g")
    val edges = spark.read.option("header", "true").csv(s"$out/g.edges.csv")
    assert(edges.count() === 8)
    assert(graphs.full.filterEdges("type = 'RT'").edges.count() === 2)
    assert(graphs.full.filterEdges(col("type") === "JC").withDerivedVertices
      .vertices.collect().map(_.getString(0)).toSet === Set("1", "3"))
  }

  /** A corpus beside the golden fixture: user 20 retweets user 10 twice
    * (RT weight 2), tags come in accent and case variants, users 10 and
    * 30 pass the Jaccard threshold, and user 40 shares two tags with each
    * of them without passing it.
    */
  private lazy val variantTweets: DataFrame = corpus(
    own(10, "Café", "Rust", "Go"),
    rt(20, 10, "CAFE", "rust"), rt(20, 10, "CAFE", "rust"), rt(21, 10, "Café"),
    own(30, "cafe", "RUST"),
    own(40, "café", "rust", "x1", "x2", "x3"),
    own(50, "Go", "GO", "gó"))

  private def post(id: Long, tags: Seq[String]) =
    s"""{"user":{"id":$id},"text":"t","hashtagEntities":[],""" +
      s""""hashtagEntitiesArray":${tags.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
  /** A post by `id` with its own tags. */
  private def own(id: Long, tags: String*) = post(id, tags)
  /** User `id` retweets a post of `of` carrying `tags` (credited to `of`). */
  private def rt(id: Long, of: Long, tags: String*) =
    s"""{"user":{"id":$id},"text":"r","retweeted_status":${post(of, tags)}}"""
  private def corpus(lines: String*): DataFrame = {
    import spark.implicits._
    spark.read.schema(TweetSchema.schema).json(lines.toDS())
  }

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  test("derived layers equal the standalone builders; full edges are unique") {
    for (corpus <- Seq(tweets, variantTweets)) {
      val g = TweetGraphPipeline.build(corpus)
      val (ht, tags) = HashtagGraph(corpus)
      for ((derived, standalone) <- Seq(
          g.retweet -> RetweetGraph(corpus), g.hashtag -> ht, g.jaccard -> JaccardGraph(tags))) {
        assert(rows(derived.edges) === rows(standalone.edges))
        assert(rows(derived.vertices) === rows(standalone.vertices))
      }
      val keys = g.full.edges.groupBy("src", "dst", "type").count()
      assert(keys.filter(col("count") > 1).count() === 0)
      assert(g.full.edges.count() === keys.count())
    }
    val g = TweetGraphPipeline.build(variantTweets)
    assert(edgeSet(g.retweet.edges) === Set(("10", "20", 2.0, "RT"), ("10", "21", 1.0, "RT")))
    assert(edgeSet(g.jaccard.edges).map(e => (e._1, e._2)) === Set(("30", "10")))
    assert(g.hashtag.edges.select("dst").distinct().collect().map(_.getString(0)).toSet ===
      Set("cafe", "rust", "go", "x1", "x2", "x3"))
  }

  /** Every node of an executed plan, the plans behind cached relations
    * included. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case other => other.children ++ other.subqueries
    }
    p +: kids.flatMap(nodes)
  }

  private def allNamed(keys: Seq[Expression], name: String) =
    keys.nonEmpty && keys.forall {
      case a: Attribute => a.name == name
      case _ => false
    }

  /** The Jaccard layer's self-join on `tag`, in whatever join form. */
  private def isTagJoin(p: SparkPlan): Boolean = p match {
    case j: BaseJoinExec => allNamed(j.leftKeys, "tag") && allNamed(j.rightKeys, "tag")
    case _ => false
  }

  private def hashedOnTag(p: SparkPlan): Boolean = p.outputPartitioning match {
    case h: HashPartitioning => allNamed(h.expressions, "tag")
    case _ => false
  }

  /** The RDD behind a pinned relation, whose plan must be one leaf. */
  private def leafRdd(df: DataFrame): RDD[_] = df.queryExecution.logical match {
    case lr: LogicalRDD => lr.rdd
    case other => fail(s"not a one-node checkpoint leaf:\n$other")
  }

  private def scansOf(df: DataFrame): Seq[Int] =
    nodes(df.queryExecution.executedPlan).collect { case s: RDDScanExec => s.rdd.id }

  test("report, vertices and 2-hop edges read the cached edge relation") {
    val g = TweetGraphPipeline.build(tweets)
    val edgeRdd = leafRdd(g.full.edges)
    for ((name, df) <- Seq("report" -> g.report, "full.vertices" -> g.full.vertices,
                           "neighbours.edges" -> g.neighbours("1").edges)) {
      df.collect()
      assert(scansOf(df).contains(edgeRdd.id), s"$name does not scan the pinned edge relation")
      assert(!nodes(df.queryExecution.executedPlan).exists(isTagJoin),
        s"$name plans the tag self-join")
    }
    // positive control: the walk finds the tag join where one is planned
    val unpinned = JaccardGraph.edges(g.userTags)
    unpinned.collect()
    assert(nodes(unpinned.queryExecution.executedPlan).exists(isTagJoin),
      "the tag self-join is not found in the plan of the unpinned Jaccard layer")
  }

  test("the pipeline's Jaccard self-join runs one tag exchange; the other side reuses it") {
    val actions = actionsDuring(TweetGraphPipeline.build(tweets))
    // the build's two actions pin the tag mapping and the edge relation
    assert(actions.map(_._1) === Seq("localCheckpoint", "localCheckpoint"))
    val joins = actions.map(_._2).filter(p => nodes(p).exists(isTagJoin))
    assert(joins.length === 1, "the tag self-join did not run in exactly one action")
    val plan = nodes(joins.head)
    assert(plan.count { case e: ShuffleExchangeExec => hashedOnTag(e); case _ => false } === 1)
    assert(plan.count { case r: ReusedExchangeExec => hashedOnTag(r.child); case _ => false } === 1)
  }

  test("report on a hand-checked corpus; no aggregate groups on an array") {
    val g = TweetGraphPipeline.build(corpus(
      own(10, "a", "b"),
      rt(20, 10, "a", "b"), rt(20, 10, "a", "b"), // repeated retweet: one peer
      own(20, "z"),
      rt(30, 20, "z"), rt(30, 10, "a"),           // 30 retweets but has no tags
      own(40, "p", "q"), own(50, "q", "p"),       // JC pair 50→40
      own(60, "solo")))                           // tagged, no RT or JC edge
    val got = g.report.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
    assert(got.length === 5)
    assert(got.toSet === Set(
      ("10", "[a,b]", "[20,30]", "[]", "[]"),
      ("20", "[z]", "[30]", "[10]", "[]"),        // RT src and RT dst
      ("40", "[p,q]", "[]", "[]", "[50]"),        // JC peer seen from dst ...
      ("50", "[p,q]", "[]", "[]", "[40]"),        // ... and from src
      ("60", "[solo]", "[]", "[]", "[]")))
    val arrayKeyed = nodes(g.report.queryExecution.executedPlan).collect {
      case a: BaseAggregateExec if a.groupingExpressions.exists(_.dataType.isInstanceOf[ArrayType]) => a
    }
    assert(arrayKeyed.isEmpty, s"aggregates grouping on an array: ${arrayKeyed.map(_.nodeName)}")
  }

  test("the edge leaf holds shuffle-partitions partitions; vertices scan it once") {
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val g = TweetGraphPipeline.build(tweets)
    val edgeRdd = leafRdd(g.full.edges)
    // AQE coalesces each tiny layer to fewer partitions; the cap holds
    assert(edgeRdd.getNumPartitions <= partitions)
    // uncoalesced, the union of the three layers has 3× the partitions,
    // and the cap is what brings the leaf back to the session's count
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try assert(leafRdd(TweetGraphPipeline.build(tweets).full.edges).getNumPartitions === partitions)
    finally spark.conf.unset(key)
    val v = g.full.vertices
    v.collect()
    assert(scansOf(v) === Seq(edgeRdd.id))
  }

  // last: clearing releases the pins of `graphs` too, and a released
  // checkpoint cannot be read again
  test("a four-output run leaves no persisted RDDs after GraftStorage.clear") {
    val out = java.nio.file.Files.createTempDirectory("fouroutputs").toString
    val g = TweetGraphPipeline.build(tweets)
    TextClean.save(TextClean.wordcloudText(tweets), out)
    g.full.save(s"$out/gFull", "g")
    Report.save(g.report, out)
    g.neighbours("1").save(s"$out/id_neighbours_1", "id")
    val pinned = Seq(g.userTags, g.full.edges).map(leafRdd(_).id)
    assert(pinned.forall(spark.sparkContext.getPersistentRDDs.contains))
    // the release of the tracked handles alone frees the pins
    GraftStorage.clear(spark, sweepCheckpoints = false)
    assert(GraftStorage.trackedCount(spark) === 0)
    assert(!pinned.exists(spark.sparkContext.getPersistentRDDs.contains),
      "a pinned leaf outlived the release of its handle")
    GraftStorage.clear(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
