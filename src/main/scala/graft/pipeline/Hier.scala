package graft.pipeline

import graft.GraftStorage.Syntax
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TWO-LEVEL (hierarchical) IVF — the resolution of the flat-quantizer
  * tension round 12 measured (r12 verdict task 1): on a clustered corpus,
  * `cellsFor`'s √n cells fragment clusters AND mass whole clusters into
  * single cells that the skew guard then DROPS (clustered recall
  * 0.86 → 0.49 → 0.26 as n grows), while cells = cluster-count restores
  * recall 1.0 at an n²/16 pairing price. This index keeps both properties:
  *
  *   - COARSE level: the cell key is the `numPlanes`-bit hyperplane
  *     SIGN PATTERN of the vector ([[SimilarityLsh.bucketKey]], one
  *     table). The sketch IS the assignment: tight clusters collapse to
  *     ~one pattern each, so the occupied-pattern count is a
  *     cluster-count estimate and the coarse cell count ADAPTS to it —
  *     no k to choose, no centroid training pass, and assignment is
  *     map-side (no n×cells scoring join at all). On a structureless
  *     corpus the sketch saturates at 2^numPlanes cells and the sub
  *     level below recovers the flat √n-occupancy family.
  *   - SUB level: a coarse cell over `capMult·⌈√n⌉` members is NOT
  *     dropped — it is sub-split on RESIDUALS (member − fixed-point cell
  *     mean; within a tight cluster the shared centroid component
  *     dominates every raw-vector comparison, so the residual is where
  *     the neighbor-ranking geometry actually lives) into
  *     `⌈m/cap⌉` sub-cells (fixed sub-quantizer: the cell's lowest-id
  *     members' residuals, argmax DOT — no division, no zero-norm NaN
  *     edge). Each member probes its `nprobe` best sub-cells, so
  *     within-cluster recall is bought back the multi-probe way.
  *
  * COST: small cells pair exactly (≤ cap members ⇒ ≤ cap·n pairs
  * total); oversized cells pair at nprobe·cap candidates per member —
  * both legs O(n·cap) = O(capMult·n^1.5), the flat-IVF-optimum family,
  * never n². The one remaining quadratic hazard — a sub-cell that stays
  * degenerate because the residuals themselves collapse (mass-duplicate
  * vectors) — keeps the last-resort drop guard at 16·cap, loudly; dedup
  * exact duplicates first, as everywhere in this library.
  *
  * DETERMINISM: the sign pattern is seeded-literal hyperplanes (the LSH
  * replay machinery), the cell mean is the fixed-point PageRank trick
  * ([[SimilarityIvf.refineCentroids]]), residuals and dots are
  * sequential folds, integer ceilings are integer arithmetic — the full
  * plan hash-replays in the DuckDB oracle (q_ann_recall_ivf_hier).
  *
  * SCALE notes: `sizes` is ≤ 2^numPlanes rows (broadcast). The
  * per-cell sub-centroid selection is one window rank per oversized
  * cell — a single-task sort of that cell's ids; at 100 TB a cell =
  * one cluster's billions would want a sampled selection, the stated
  * edge. Everything else is cell/sub-cell equi-joins.
  */
object SimilarityHier {

  /** Fixed-point scale for the cell means — [[SimilarityIvf.refineCentroids]]'s. */
  private val Scale = 1L << 20

  /** Hierarchical kNN graph: every vector's top-k by exact cosine among
    * its hierarchical candidates. `capMult` sizes the coarse-cell
    * occupancy cap (`capMult·⌈√n⌉`); `nprobe` sub-cells are probed
    * inside oversized cells. `knownCount ≥ 0` skips the sizing count.
    */
  def knnGraphHier(vectors: DataFrame, k: Int, numPlanes: Int = 8,
                   dim: Int = 64, seed: Long = 42L, capMult: Int = 4,
                   nprobe: Int = 4, knownCount: Long = -1L): DataFrame =
    SimilarityLsh.rankTopK(
      hierPairs(vectors, numPlanes, dim, seed, capMult, nprobe, knownCount), k)

  /** Near-duplicate pairs `(id1 < id2, cos ≥ threshold)` of the
    * two-level index — the dedup-family twin of [[knnGraphHier]]
    * ([[SimilarityIvf.nearDupPairs]]'s shape), used by
    * [[graft.pipeline.Dedup.embeddingNearDupAutoRecall]]'s `hier`
    * branch ([[SimilarityLsh.saturationGate]]).
    */
  def nearDupPairsHier(vectors: DataFrame, threshold: Double,
                       numPlanes: Int = 8, dim: Int = 64, seed: Long = 42L,
                       capMult: Int = 4, nprobe: Int = 4,
                       knownCount: Long = -1L): DataFrame =
    hierPairs(vectors, numPlanes, dim, seed, capMult, nprobe, knownCount)
      .filter(col("cos") >= threshold)

  /** Measured recall of [[knnGraphHier]] against brute-force cosine truth
    * on md5-picked anchors — the same deployed-audit contract as
    * [[SimilarityIvf.knnGraphRecallAudit]].
    */
  def knnGraphHierRecallAudit(vectors: DataFrame, k: Int, nAnchors: Int = 50,
                              numPlanes: Int = 8, dim: Int = 64,
                              seed: Long = 42L, capMult: Int = 4,
                              nprobe: Int = 4, knownCount: Long = -1L): DataFrame =
    SimilarityLsh.recallAuditCoreCandidates(vectors, k, nAnchors,
      hierPairs(vectors, numPlanes, dim, seed, capMult, nprobe, knownCount))

  /** The index's knobs on the escalation path: the saturation gate's
    * `hier` build ([[SimilarityLsh.topKAutoRecall]],
    * [[graft.pipeline.Dedup.embeddingNearDupAutoRecall]]) and the shard
    * reading that prices it ([[sampledHierRecall]]) both read these, so
    * the audit measures the index the gate builds.
    */
  val GateCapMult = 1
  val GateNprobe = 4

  /** The measured reading for [[SimilarityLsh.Escalate]]`(hierRecall)`:
    * recall of the hierarchical kNN graph on a deterministic md5-hash
    * shard ([[SimilarityLsh.hashShard]] — the same membership gate as the
    * flat-IVF sampled base, so the two families are audited on the
    * IDENTICAL rows), micro-averaged Σcaught/Σtruth (exact-int ratio,
    * bit-replayable in the SQL oracles). Top-3, the fit the
    * [[SimilarityIvf.expectedRecall]] model family uses, so the reading
    * is comparable to the flat floor model it competes against. The
    * shard's index is fully self-sized on the shard (`cap` from the
    * shard count — the index has no other knobs to rescale) at
    * [[GateCapMult]]/[[GateNprobe]]. Returns −1 (no reading: the gate
    * never picks hier) when the shard is under
    * [[SimilarityLsh.SampledShardFloor]] rows or the truth is empty.
    */
  private[graft] def sampledHierRecall(vectors: DataFrame, fraction: Double,
                                       nAnchors: Int, numPlanes: Int = 8,
                                       dim: Int = 64,
                                       seed: Long = 42L): Double =
    SimilarityLsh.sampledReading(vectors, fraction, "sampledHierRecall") {
      (pinned, shardN) =>
        knnGraphHierRecallAudit(pinned, 3, nAnchors, numPlanes, dim, seed,
          GateCapMult, GateNprobe, knownCount = shardN)
    }

  /** Candidate pairs `(id1 < id2, cos)` of the two-level index — the
    * exact-pair leg (small coarse cells) unioned with the residual
    * multi-probe leg (oversized coarse cells), deduped.
    */
  private[graft] def hierPairs(vectors: DataFrame, numPlanes: Int, dim: Int,
                               seed: Long, capMult: Int, nprobe: Int,
                               knownCount: Long): DataFrame = {
    require(numPlanes >= 1 && numPlanes <= 16,
      s"numPlanes=$numPlanes out of range (the coarse sketch is 2^planes cells)")
    require(capMult >= 1, s"capMult=$capMult out of range")
    require(nprobe >= 1, s"nprobe=$nprobe out of range")
    val log = org.slf4j.LoggerFactory.getLogger("graft.SimilarityHier")
    // exact, not stats-estimated (the r12-advice principle): `cap`
    // decides WHICH cells sub-split, i.e. the result set — a stale CBO
    // estimate must never move it. knownCount skips the scan as usual.
    val n = SimilarityLsh.exactCorpusCount(vectors, knownCount)
    val cap = capMult.toLong * math.ceil(math.sqrt(n.toDouble)).toLong
    val planes = SimilarityLsh.hyperplanes(numPlanes, dim, seed)
    // the coarse assignment: one map-side projection, pinned — it feeds
    // the size aggregate, both exact-pair sides, and the big-cell leg
    val keyed = vectors
      .select(col("vec_id"), col("embedding"),
        SimilarityLsh.bucketKey(col("embedding"), planes).as("cell"))
      .persistTracked()
    // ≤ 2^numPlanes rows — broadcast to every consumer
    val sizes = keyed.groupBy("cell").agg(count(lit(1)).as("m")).persistTracked()

    // ---- leg 1: small coarse cells — exact within-cell pairs
    val small = keyed.join(broadcast(sizes.filter(col("m") <= cap)), Seq("cell"))
    val smallPairs = small.as("a").hint("SHUFFLE_MERGE")
      .join(small.as("b").hint("SHUFFLE_MERGE"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("cos"))

    // ---- leg 2: oversized coarse cells — residual sub-quantizer
    val big = keyed.join(broadcast(sizes.filter(col("m") > cap)), Seq("cell"))
    // fixed-point cell mean (exact long sums — commutative, so any
    // partitioning yields the identical mean; two IEEE divisions last)
    val means = big
      .select(col("cell"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      .select(col("cell"), col("pos"),
        floor(col("v") * Scale).cast("long").as("sv"))
      .groupBy("cell", "pos")
      .agg(sum("sv").as("s"), count(lit(1)).as("cnt"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"),
          (col("s").cast("double") / col("cnt").cast("double") /
            lit(Scale.toDouble)).as("mv")))),
        x => x("mv")).as("mean"))
    // broadcast: ≤ 2^numPlanes mean rows — without the hint a stats
    // misestimate at scale could plan a sort-merge join and re-exchange
    // the whole big-cell corpus on `cell` (guide §3.1: hint when a side
    // is KNOWN small)
    val withRes = big.join(broadcast(means), Seq("cell"))
      .select(col("vec_id"), col("embedding"), col("cell"), col("m"),
        zip_with(col("embedding").cast("array<double>"), col("mean"),
          (x, mv) => x - mv).as("res"))
      .persistTracked() // feeds sub-centroid rank AND the scoring join
    // ⌈m/cap⌉ sub-cells per oversized cell (integer ceiling — `div` is
    // exact long division, `//` in the oracle), fixed sub-quantizer =
    // the cell's lowest-id members' residuals
    val numSub = expr(s"(m + ${cap - 1L}) div ${cap}L")
    val subCents = withRes
      .withColumn("rn", row_number().over(
        Window.partitionBy("cell").orderBy("vec_id")))
      .filter(col("rn") <= numSub)
      .select(col("cell"), col("vec_id").as("scid"), col("res").as("cres"))
    // argmax DOT of residuals (ties → lowest sub-centroid id); rank 1 is
    // the member's own sub-cell, ranks 2..nprobe are its probes
    val scored = withRes.join(subCents, Seq("cell"))
      .select(col("vec_id"), col("embedding"), col("cell"), col("scid"),
        Similarity.dot(col("res"), col("cres")).as("sdot"))
    val ranked = scored.withColumn("pr", row_number().over(
        Window.partitionBy("cell", "vec_id").orderBy(col("sdot").desc, col("scid").asc)))
      .persistTracked() // feeds membership AND probes
    val membership = ranked.filter(col("pr") === 1)
      .select(col("cell"), col("scid"), col("vec_id"), col("embedding"))
    // last-resort degenerate-sub-cell guard: over 16·cap members means
    // the residuals themselves collapsed (mass duplicates) — drop from
    // the N side, loudly, same stance as every pairing guard here
    val hardCap = 16L * cap
    val subSizes = membership.groupBy("cell", "scid").agg(count(lit(1)).as("sm"))
    // ONE eager action for both audits (r13: the coarse-structure log and
    // the degenerate-sub-cell guard each paid a full AQE job round; the
    // two single-row aggregates cross-join into one job — the sketch
    // stats ride along on the guard's materialization of `ranked`)
    val st = sizes.agg(count(lit(1)).as("cells"),
        coalesce(sum(when(col("m") > cap, 1L).otherwise(0L)), lit(0L)).as("big"),
        coalesce(sum(when(col("m") > cap, col("m"))), lit(0L)).as("bigm"))
      .crossJoin(subSizes.filter(col("sm") > hardCap)
        .agg(coalesce(sum(col("sm")), lit(0L)).as("drp"))).head()
    log.info(s"knnGraphHier: corpus=$n — coarse sketch found ${st.getLong(0)} " +
      s"occupied patterns (cluster-count estimate), ${st.getLong(1)} over the " +
      s"$cap-member cap (${st.getLong(2)} vectors take the residual " +
      s"sub-split + $nprobe-probe leg; the rest pair exactly)")
    if (st.getLong(3) > 0)
      log.warn(s"knnGraphHier: degenerate sub-cells — dropping " +
        s"${st.getLong(3)} memberships over $hardCap; residuals " +
        "collapsed (mass duplicates?) — exact-dedup the corpus first")
    val guarded = membership.join(
      broadcast(subSizes.filter(col("sm") <= hardCap).select("cell", "scid")),
      Seq("cell", "scid"))
    val probes = ranked.filter(col("pr") <= nprobe)
      .select(col("cell"), col("scid"), col("vec_id").as("q_id"),
        col("embedding").as("qe"))
    val bigPairs = probes.join(guarded, Seq("cell", "scid"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(least(col("q_id"), col("vec_id")).as("id1"),
        greatest(col("q_id"), col("vec_id")).as("id2"),
        // cosine of the ORIGINAL vectors (the graph metric) — bit-
        // symmetric (commutative IEEE multiply inside the same fold), so
        // a pair met through both directions collapses exactly in the
        // distinct (the nearDupPairsMultiProbe contract)
        Similarity.cosine(col("qe"), col("embedding")).as("cos"))
      .distinct()

    smallPairs.unionByName(bigPairs)
  }
}
