package graft.ops

import graft.graph.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Jaccard user-similarity graph (reference
  * `RetweetTagsJaccardGraph.py:136-192`): edge u1↔u2 when the users share
  * ≥2 normalized hashtags AND Jaccard(tags₁, tags₂) > threshold.
  *
  * The reference finds candidate pairs with a 4-vertex GraphFrames motif —
  * a cascade of four self-joins (`:158-165`). We replace it with ONE
  * self-equi-join on the exploded (user, tag) relation plus a count
  * (SURVEY.md J6): `≥2 shared tags ⟺ ∃ ordered tag pair (a > b) shared`,
  * so the rewrite is semantically identical and strictly cheaper.
  *
  * Scale notes: the whole similarity computation is COUNT-based — shared
  * tag counts from the self-join, set sizes from `size(hts)` carried on
  * every exploded row (lists are already deduped by normalization; see
  * [[pairs]] for the contract), `|A∪B| = |A|+|B|-|A∩B|`. No array
  * intersection on the hot path, so pair rows stay tiny regardless of how
  * long individual tag lists get. The self-join shuffles on `tag`; a
  * heavy-hitter tag (shared by k users) contributes k² pairs — at 100 TB,
  * drop top-frequency tags (stop-tags) before pairing, the standard guard;
  * exposed via `maxTagFrequency`.
  */
object JaccardGraph {

  /** Pairs `(src, dst, shared, n1, n2, w=jaccard)` with src > dst (string
    * comparison — ids are strings after the heterogeneous vertex coercion,
    * and the reference's motif filter `a.id > b.id` compares the same
    * coerced strings).
    *
    * Contract: `userTags` is ONE row per `id`, and each `hts` holds
    * distinct tags — what [[HashtagGraph.userTags]] produces (a `groupBy`
    * on id, then [[Normalize.normalizeTags]]). Uncapped, every exploded
    * `(id, tag)` row then carries its set size `n = size(hts)`, and the
    * pair count groups on `(src, dst, n1, n2)`: `n` is a function of `id`,
    * so the groups are the `(src, dst)` groups and no sizes aggregate is
    * joined back. With `maxTagFrequency` set the sizes must come from the
    * capped sets, so that path runs [[pairsFromTagPairs]].
    */
  def pairs(userTags: DataFrame, minShared: Long = 2L,
            maxTagFrequency: Option[Long] = None): DataFrame =
    maxTagFrequency match {
      case None =>
        val sized = userTags.select(col("id"), size(col("hts")).cast("long").as("n"),
          explode(col("hts")).as("tag"))
        withWeight(sharedCounts(sized, minShared, carry = Seq("n")))
      case cap =>
        pairsFromTagPairs(userTags.select(col("id"), explode(col("hts")).as("tag")),
          minShared, cap)
    }

  /** Same computation from an already-exploded DISTINCT `(id, tag)`
    * relation — the 100 TB entry point: no per-user tag arrays are ever
    * materialized (a `collect_set` → `explode` round-trip is pure
    * overhead, and the arrays of a heavy user can be huge). Set sizes come
    * from a `groupBy(id)` count joined to both pair endpoints; joining
    * them before the self-join instead made the pair rows wider and the
    * plan slower. On inputs honouring the contract of [[pairs]], the two
    * forms agree on every column.
    */
  def pairsFromTagPairs(ut0: DataFrame, minShared: Long = 2L,
                        maxTagFrequency: Option[Long] = None): DataFrame = {
    val ut = maxTagFrequency match {
      case Some(cap) =>
        // stop-tag guard: a tag used by k users generates k(k-1)/2 pairs
        val freq = ut0.groupBy("tag").agg(count(lit(1)).as("tf")).filter(col("tf") <= cap)
        ut0.join(freq.select("tag"), Seq("tag"), "left_semi")
      case None => ut0
    }
    // sizes from the CAPPED relation: with maxTagFrequency set, w is the
    // exact Jaccard of the stop-tag-filtered sets (consistent numerator and
    // denominator). Sizing from the uncapped ut0 would make w neither the
    // Jaccard of the capped sets nor of the true sets — two identical
    // hot-tag-heavy users could score w < 1.0.
    val sizes = ut.groupBy(col("id")).agg(count(lit(1)).as("n"))

    withWeight(sharedCounts(ut, minShared, carry = Nil)
      .join(sizes.as("s1"), col("src") === col("s1.id"))
      .join(sizes.as("s2"), col("dst") === col("s2.id"))
      .select(col("src"), col("dst"), col("shared"),
        col("s1.n").as("n1"), col("s2.n").as("n2")))
  }

  /** The pair core both entry points share: ONE self-equi-join of
    * `(id, tag, carry…)` on `tag`, counted per ordered pair `x.id > y.id`
    * into `(src, dst, <carry>1, <carry>2, shared)`, pairs below
    * `minShared` dropped. Carried columns join the grouping key, so each
    * must be a function of `id`.
    *
    * Both sides shuffle on `tag`. The second side's exchange is a
    * `ReusedExchange` of the first only when the plans below the two
    * exchanges are the same plain operators over the same leaf, as over
    * the checkpointed tag mapping of [[TweetGraphPipeline]] (TweetGraphSpec
    * checks it). Over a cached `InMemoryRelation` AQE gives each side its
    * own table-cache stage, and the self-join runs two explodes and two
    * tag exchanges.
    */
  private def sharedCounts(ut: DataFrame, minShared: Long, carry: Seq[String]): DataFrame = {
    val carried = carry.flatMap(c => Seq(col(s"x.$c").as(s"${c}1"), col(s"y.$c").as(s"${c}2")))
    // SHUFFLE_MERGE: a broadcast self-join would execute the upstream tag
    // pipeline twice, and a corpus-side build is unbroadcastable at scale
    ut.as("x").hint("SHUFFLE_MERGE")
      .join(ut.as("y").hint("SHUFFLE_MERGE"),
        col("x.tag") === col("y.tag") && col("x.id") > col("y.id"))
      .groupBy(col("x.id").as("src") +: col("y.id").as("dst") +: carried: _*)
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** `(src, dst, shared, n1, n2)` → the output schema with
    * `w = |A∩B| / (|A|+|B|-|A∩B|)`. */
  private def withWeight(counts: DataFrame): DataFrame =
    counts.select(col("src"), col("dst"), col("shared"), col("n1"), col("n2"),
      (col("shared").cast("double") /
        (col("n1") + col("n2") - col("shared")).cast("double")).as("w"))

  /** Edges `(src, dst, w=jaccard, type="JC")` above the threshold
    * (`:183-185`). One row per pair — the reference's motif output carries
    * one duplicate per shared ordered tag pair, but every consumer dedups
    * (`.distinct()` at `:45`, `collect_set` in the report), so the deduped
    * form is observationally equivalent and much smaller. `userTags`
    * must honour the contract of [[pairs]]: one row per id, distinct tags.
    */
  def edges(userTags: DataFrame, threshold: Double = 0.5,
            maxTagFrequency: Option[Long] = None): DataFrame =
    pairs(userTags, minShared = 2L, maxTagFrequency = maxTagFrequency)
      .filter(col("w") > threshold)
      .select(col("src"), col("dst"), col("w"), lit("JC").as("type"))

  /** Reference-shaped detail rows (`:175-180`): id1 | hts1 (comma-joined) |
    * id2 | hts2 | jc | nt1 | nt2 | intersection. The reference computes the
    * D3-D5 UDFs on the arrays in the same select that stringifies them
    * (SURVEY.md §2.7 subtlety) — here counts come from the scalable path
    * and the strings from one join back to the tag lists.
    */
  def detail(userTags: DataFrame, threshold: Double = 0.5): DataFrame =
    pairs(userTags)
      .join(userTags.as("t1"), col("src") === col("t1.id"))
      .join(userTags.as("t2"), col("dst") === col("t2.id"))
      .select(
        col("src").as("id1"), concat_ws(",", col("t1.hts")).as("hts1"),
        col("dst").as("id2"), concat_ws(",", col("t2.hts")).as("hts2"),
        col("w").as("jc"), col("n1").as("nt1"), col("n2").as("nt2"),
        col("shared").as("intersection"))
      .filter(col("jc") > threshold)

  def apply(userTags: DataFrame, threshold: Double = 0.5): Graph = {
    val e = edges(userTags, threshold)
    Graph(Graph.verticesOf(e), e)
  }
}
