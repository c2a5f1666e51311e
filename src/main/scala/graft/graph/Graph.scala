package graft.graph

import graft.GraftStorage.Syntax
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Property graph as two DataFrames — the representation GraphFrames uses
  * and the reference leans on everywhere (`RetweetTagsJaccardGraph.py:42`).
  * Vertices carry a single string `id` (heterogeneous union of user ids and
  * hashtag strings, SURVEY.md §1.2); edges are `(src, dst, w, type)` with
  * `w: double` (documented divergence: the reference's unioned `w` is
  * string-coerced because its `jaccard` UDF defaults to StringType).
  */
case class Graph(vertices: DataFrame, edges: DataFrame) {

  /** Subgraph by edge predicate (reference G3, `g.filterEdges(sql)` at
    * `RetweetTagsJaccardGraph.py:262,271`). Vertices are left untouched,
    * matching GraphFrames semantics; use [[withDerivedVertices]] to shrink
    * the vertex set to the surviving endpoints.
    */
  def filterEdges(sqlPredicate: String): Graph = filterEdges(expr(sqlPredicate))

  def filterEdges(condition: Column): Graph = Graph(vertices, edges.filter(condition))

  /** Re-derive vertices as the endpoint set of the current edges
    * (`RetweetTagsJaccardGraph.py:274-276`).
    */
  def withDerivedVertices: Graph = Graph(Graph.verticesOf(edges), edges)

  /** GraphFrames-style motif search (reference G2,
    * `RetweetTagsJaccardGraph.py:158`) — see [[Motif]] for the supported
    * grammar, semantics, and scale notes.
    */
  def find(pattern: String, allowCartesian: Boolean = false): DataFrame =
    Motif.find(this, pattern, allowCartesian)

  /** GraphFrames-parity degree views — one groupBy each, partial-agg
    * map-side. `degrees` counts both endpoints of every edge (a self-loop
    * contributes 2, like GraphFrames).
    */
  def degrees: DataFrame =
    edges.select(explode(array(col("src"), col("dst"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("degree"))

  def inDegrees: DataFrame =
    edges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("inDegree"))

  def outDegrees: DataFrame =
    edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("outDegree"))

  /** Connected components (direction ignored) — delegates to the
    * oracle-verified min-label propagation in
    * [[graft.pipeline.Dedup.components]]. Returns `(id, component)` where
    * the component label is the smallest member id; vertices with no
    * edges are their own singleton component.
    */
  def connectedComponents(maxIter: Int = 20): DataFrame = {
    val linked = graft.pipeline.Dedup.components(
      edges.select(col("src").as("id1"), col("dst").as("id2")), maxIter)
    val singletons = vertices.select(col("id"))
      .join(linked.select(col("id")), Seq("id"), "left_anti")
      .withColumn("component", col("id"))
    linked.unionByName(singletons)
  }

  /** PageRank in FIXED-POINT integer arithmetic — deterministic by
    * construction, which float PageRank is not (per-vertex sums of
    * `rank/outDegree` doubles depend on partition order; integer sums
    * don't). Ranks are scaled by 1e9; damping 0.85 is the rational 17/20
    * applied with integer `div` (= floor for non-negative operands):
    *
    *   rank'(v) = 0.15·S + floor(17 · Σ_{u→v} floor(rank(u)/outDeg(u)) / 20)
    *
    * Unnormalized (base 0.15·S per vertex), multigraph semantics (each
    * duplicate edge contributes), dangling vertices simply leak mass —
    * the standard simplifications. Every quantity is a long (mass is
    * bounded by ~|V|·S, and 17× that fits comfortably), so the DuckDB
    * oracle replays all `iters` iterations bit-exactly. Per iteration:
    * one equi-join + one aggregate, hash-partitioned on vertex id.
    */
  def pageRank(iters: Int = 10): DataFrame = {
    val scale = 1000000000L
    val e = edges.select(col("src"), col("dst"))
    val od = e.groupBy(col("src").as("oid")).agg(count(lit(1)).as("d"))
    var ranks = vertices.select(col("id")).withColumn("rank", lit(scale))
    for (_ <- 1 to iters) {
      val contrib = e
        .join(ranks.withColumnRenamed("id", "rid"), col("src") === col("rid"))
        .join(od, col("src") === col("oid"))
        .select(col("dst").as("id"), expr("rank div d").as("c"))
        .groupBy("id").agg(sum("c").as("s"))
      ranks = vertices.select(col("id")).join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(scale * 3 / 20) + expr("(17 * coalesce(s, 0L)) div 20")).as("rank"))
    }
    ranks
  }

  /** Personalized PageRank: [[pageRank]]'s fixed-point integer iteration
    * with ALL teleport mass directed at `sourceId` — rank'(v) gets the
    * 0.15·S base term only at the source; all mass starts there too. The
    * result ranks vertices by proximity to the source (random walks that
    * restart at it), the standard "related items for THIS item"
    * recommendation primitive. Same plan per iteration (one equi-join +
    * one aggregate on vertex id), same bit-exact determinism, same oracle
    * replayability — the personalization changes one literal CASE.
    */
  def personalizedPageRank(sourceId: Column, iters: Int = 10): DataFrame = {
    val scale = 1000000000L
    val e = edges.select(col("src"), col("dst"))
    val od = e.groupBy(col("src").as("oid")).agg(count(lit(1)).as("d"))
    val base = when(col("id") === sourceId, lit(scale * 3 / 20)).otherwise(lit(0L))
    var ranks = vertices.select(col("id"))
      .withColumn("rank", when(col("id") === sourceId, lit(scale)).otherwise(lit(0L)))
    for (_ <- 1 to iters) {
      val contrib = e
        .join(ranks.withColumnRenamed("id", "rid"), col("src") === col("rid"))
        .join(od, col("src") === col("oid"))
        .select(col("dst").as("id"), expr("rank div d").as("c"))
        .groupBy("id").agg(sum("c").as("s"))
      ranks = vertices.select(col("id")).join(contrib, Seq("id"), "left")
        .select(col("id"),
          (base + expr("(17 * coalesce(s, 0L)) div 20")).as("rank"))
    }
    ranks
  }

  /** HITS hubs & authorities (Kleinberg) in fixed-point integer
    * arithmetic, the [[pageRank]] determinism recipe applied to the
    * mutual-reinforcement recursion: auth(v) = Σ hub over in-neighbors,
    * hub(v) = Σ auth over out-neighbors. Plain HITS L2-normalizes each
    * half-step (floats, partition-order nondeterminism); here each
    * half-step instead rescales by its integer MAXIMUM —
    * `score·S div max` with S = 10⁶ — attached as a ONE-ROW broadcast
    * (never a driver action). Max-normalization converges to the same
    * principal-eigenvector direction (power iteration is normalization-
    * invariant up to scale), every value is an exact long (the rescale
    * multiplies a raw sum ≤ maxDegree·S by S, so the contract is
    * maxDegree·S² < 2⁶³ ⇒ maxDegree < ~9·10⁶ — far above any real
    * per-vertex degree; shrink S if you have a hotter hub), and the
    * DuckDB oracle replays all iterations bit-for-bit. Per iteration: two equi-join + aggregate pairs keyed on
    * vertex id, two 1-row maxes. Multigraph semantics (duplicate edges
    * contribute repeatedly); vertices with no in-edges score auth 0, no
    * out-edges hub 0 — standard.
    */
  def hits(iters: Int = 5): DataFrame = {
    val scale = 1000000L
    val e = edges.select(col("src"), col("dst"))
    var scores = vertices.select(col("id"))
      .withColumn("hub", lit(scale)).withColumn("auth", lit(scale))
    for (_ <- 1 to iters) {
      // each raw half-step is referenced TWICE (its max and the rescale
      // join) — without lineage truncation the retained plan tree
      // quadruples per iteration (4^iters subtrees; analysis measured
      // minutes by iteration 5). Eager localCheckpoint cuts each
      // half-step to a leaf, the Dedup.components precedent.
      val rawAuth = e
        .join(scores.select(col("id").as("src"), col("hub")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum("hub").as("ra"))
        .localCheckpoint(true)
      val aMax = rawAuth.agg(max("ra").as("ma"))
      val auth = rawAuth.crossJoin(broadcast(aMax))
        .select(col("id"), expr(s"(ra * ${scale}L) div ma").as("auth"))
        .localCheckpoint(true)
      val rawHub = e
        .join(auth.select(col("id").as("dst"), col("auth")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(sum("auth").as("rh"))
        .localCheckpoint(true)
      val hMax = rawHub.agg(max("rh").as("mh"))
      val hub = rawHub.crossJoin(broadcast(hMax))
        .select(col("id"), expr(s"(rh * ${scale}L) div mh").as("hub"))
      scores = vertices.select(col("id"))
        .join(hub, Seq("id"), "left")
        .join(auth, Seq("id"), "left")
        .select(col("id"), coalesce(col("hub"), lit(0L)).as("hub"),
          coalesce(col("auth"), lit(0L)).as("auth"))
    }
    scores
  }

  /** Truncated Katz centrality (Katz 1953) in exact integer arithmetic:
    *
    *   katz(v) = Σ_{t=1..maxLen} n_t(v) · betaDen^(maxLen−t)
    *
    * where `n_t(v)` counts directed paths of length `t` ending at `v`
    * (walks — vertices may repeat, the standard Katz semantics) and the
    * attenuation α = 1/betaDen is applied with the common denominator
    * betaDen^maxLen, so every score is an exact long and the DuckDB
    * oracle replays all waves bit-for-bit. Unlike [[pageRank]] (degree-
    * normalized: a hub's mass splits across its out-edges) Katz counts
    * RAW path multiplicity — the influence measure for "how many short
    * chains reach v", used for link-prediction scoring and influence
    * ranking where prolific sources should count more, not less.
    *
    * Truncation at `maxLen` replaces the classic geometric-series
    * convergence condition (α < 1/λ_max, uncheckable distributedly
    * without an eigenvalue estimate) with a bounded-horizon contract —
    * the same move [[bfs]]/[[shortestPaths]] make.
    *
    * Overflow contract: path counts grow like (max in-degree)^t, so each
    * wave aggregates in decimal(38,0) (never wraps) and REQUIRES
    * max(n_t) ≤ 10¹⁵ before casting back to long — a graph too dense for
    * the horizon fails loudly with the wave named, never silently wraps
    * (the [[pathCounts]] guard precedent). With n_t ≤ 10¹⁵ and
    * betaDen^maxLen ≤ 10³ the weighted sum stays ≪ 2⁶³.
    *
    * Scale shape: per wave ONE equi-join (edges ⋈ previous wave, keyed
    * on the high-cardinality vertex id) + one map-combined aggregate;
    * `maxLen` waves total, plans kept lazy (each wave references the
    * previous exactly once — the [[pageRank]] lineage rule).
    */
  def katzCentrality(maxLen: Int = 3, betaDen: Long = 5L): DataFrame = {
    require(maxLen >= 1 && maxLen <= 6, s"need 1 <= maxLen <= 6, got $maxLen")
    require(betaDen >= 2 && math.pow(betaDen.toDouble, maxLen.toDouble) <= 1000.0,
      s"need betaDen >= 2 with betaDen^maxLen <= 1000, got $betaDen^$maxLen")
    // pin both relations: edges feed every wave join (maxLen evaluations)
    // and vertices feed wave 0 plus every accumulator join — a derived
    // edge list (e.g. a bigram explode+distinct) would otherwise be
    // recomputed ~2·maxLen times (measured 4.7 → 2.5 s at sf0.1)
    import graft.GraftStorage.Syntax
    val e = edges.select(col("src"), col("dst")).persistTracked()
    val v = vertices.select(col("id")).persistTracked()
    var wave = v.withColumn("n", lit(1L))
    var katz = v.withColumn("acc", lit(0L))
    for (t <- 1 to maxLen) {
      val nextDec = e
        .join(wave.withColumnRenamed("id", "wid"), col("src") === col("wid"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("n").cast("decimal(38,0)")).as("nd"))
      val probe = nextDec.agg(max(col("nd")).as("m")).head()
      val maxN = Option(probe.getDecimal(0)).map(_.toBigInteger)
        .getOrElse(java.math.BigInteger.ZERO)
      require(maxN.compareTo(java.math.BigInteger.valueOf(1000000000000000L)) <= 0,
        s"katzCentrality: wave $t path count $maxN exceeds 10^15 — " +
          "shorten maxLen or thin the graph (counts would overflow long)")
      wave = nextDec.select(col("id"), col("nd").cast("long").as("n"))
        .localCheckpoint(true) // the probe materialized it anyway
      val w = math.pow(betaDen.toDouble, (maxLen - t).toDouble).toLong
      katz = katz.join(wave, Seq("id"), "left")
        .select(col("id"), (col("acc") + lit(w) * coalesce(col("n"), lit(0L))).as("acc"))
    }
    katz.select(col("id"), col("acc").as("katz"))
  }

  /** GraphFrames-parity `aggregateMessages`: per edge, optionally send a
    * message (any Column over the edge's `src`/`dst`/`w`/`type` columns)
    * to the source and/or destination vertex, then reduce per receiving
    * vertex with `agg`. Returns `(id, agg)`, vertices receiving no
    * message absent — GraphFrames semantics.
    *
    * This is the primitive degrees / weighted degrees / neighbor
    * aggregation all desugar to: a projection per direction, one union,
    * ONE hash aggregate (map-side partials) keyed on the vertex id.
    */
  def aggregateMessages(msgToSrc: Option[Column], msgToDst: Option[Column],
                        agg: Column => Column): DataFrame = {
    require(msgToSrc.nonEmpty || msgToDst.nonEmpty, "no message expression given")
    val parts =
      msgToSrc.map(m => edges.select(col("src").as("id"), m.as("msg"))).toSeq ++
        msgToDst.map(m => edges.select(col("dst").as("id"), m.as("msg")))
    parts.reduce(_ unionByName _).groupBy("id").agg(agg(col("msg")).as("agg"))
  }

  /** GraphFrames-parity breadth-first search: ALL minimum-length paths
    * from vertices matching `fromExpr` to vertices matching `toExpr`,
    * following edge direction, searched depth-by-depth — the search stops
    * at the first depth where ANY from→to path exists (GraphFrames `bfs`
    * semantics: every returned path has the same, globally minimal
    * length; a vertex matching both expressions yields a length-0 path).
    *
    * Returns the STABLE relational shape `(from, to, path, length)` with
    * `path` the full vertex-id array — GraphFrames instead widens the
    * schema per hop (`from, e0, v1, …, to`), which makes the column set
    * data-dependent; the information is identical and this shape is
    * hash-comparable under a fixed schema.
    *
    * Scale shape: one frontier⋈edges equi-join + distinct per depth, all
    * keyed on the frontier head; the cycle guard (`!array_contains`) is
    * sound because a minimum-length path is necessarily simple. The
    * per-depth `count()` is driver CONTROL FLOW (did any path land?),
    * not a data collect. Frontier size is bounded by (simple paths of
    * length d), which the guard and `maxPathLength` cap.
    */
  def bfs(fromExpr: Column, toExpr: Column, maxPathLength: Int = 10): DataFrame = {
    val targets = vertices.filter(toExpr).select(col("id").as("head"))
    var frontier = vertices.filter(fromExpr)
      .select(col("id").as("head"), array(col("id")).as("path"))
    var depth = 0
    while (true) {
      val hits = frontier.join(targets, Seq("head"), "left_semi")
        .select(element_at(col("path"), 1).as("from"), col("head").as("to"),
          col("path"), lit(depth.toLong).as("length"))
      if (depth == maxPathLength || hits.limit(1).count() > 0) return hits
      frontier = frontier
        .join(edges.select(col("src").as("head"), col("dst")), Seq("head"))
        .filter(!array_contains(col("path"), col("dst")))
        .select(col("dst").as("head"), concat(col("path"), array(col("dst"))).as("path"))
        .distinct()
      depth += 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** Deterministic "random" walks — the DeepWalk/node2vec corpus
    * generator with every RNG draw replaced by a hash draw, the same
    * RNG-free discipline as [[graft.pipeline.Mix]] sampling: step `i` of
    * the walk started at vertex `v` picks neighbor index
    * `md5₆₀(v ++ "|" ++ i) mod degree` from the dst-sorted adjacency
    * array. Repartition-invariant, retry-safe, and exactly replayable by
    * an engine that can rank neighbors — properties `rand()`-driven walks
    * can't offer in a distributed retry model.
    *
    * One walk per vertex; each round is one equi-join of the walk
    * frontier against the ranked-adjacency hub — `maxLen` joins total,
    * shuffling `(walk, cur)` rows only, never payloads. Walks stop at
    * sinks (no outgoing edges): the path simply stops growing.
    *
    * HUB SAFETY: the adjacency array is capped at `maxDegree` BEFORE
    * collection — a `row_number` over `(src ORDER BY dst)` filters to
    * the first `maxDegree` dst-sorted neighbors, so a power-law hub
    * never materializes an unbounded array row (the shuffle sort spills
    * to disk; the collect buffer is bounded at `maxDegree`). The pick
    * stays uniform over the retained prefix, which is a deterministic
    * function of the edge set — truncation is itself replayable
    * (an oracle slices the same sorted prefix). Default 10000 ≈ a few
    * hundred KB per hub row; on this corpus no vertex comes close, so
    * the default cap is result-invisible.
    */
  def deterministicWalks(maxLen: Int,
                         maxDegree: Int = Graph.DefaultWalkMaxDegree): DataFrame = {
    val adj = Graph.cappedAdjacency(edges, maxDegree)
    var state = vertices.select(col("id").as("walk_id"),
      array(col("id")).as("path"), col("id").as("cur"))
    for (i <- 1 to maxLen) {
      val pick = conv(substring(md5(concat(col("walk_id"), lit(s"|$i"))), 1, 15),
        16, 10).cast("long")
      state = state.join(adj, col("cur") === col("src"), "left")
        .withColumn("nxt", when(col("nbrs").isNotNull,
          element_at(col("nbrs"), (pick % size(col("nbrs"))).cast("int") + 1)))
        .select(col("walk_id"),
          when(col("nxt").isNotNull, concat(col("path"), array(col("nxt"))))
            .otherwise(col("path")).as("path"),
          coalesce(col("nxt"), col("cur")).as("cur"))
    }
    state.select(col("walk_id"), col("path"),
      (size(col("path")) - 1).cast("long").as("hops"))
  }

  /** WEIGHT-PROPORTIONAL deterministic walks — [[deterministicWalks]]
    * with each draw ∝ the edge's integer weight (`w` cast to long,
    * parallel edges summed), the node2vec/DeepWalk corpus generator for
    * weighted graphs. The adjacency hub stores one dst-sorted
    * `(dst, cum)` CUMULATIVE-weight array per vertex (one window + one
    * groupBy at build time), so step `i` of walk `v` is a pure
    * projection: `draw = md5₆₀(v|i) mod cum_last`, next =
    * first struct with `cum > draw`. A neighbor of weight `w_j` owns
    * exactly `w_j` residues — the draw is uniform over weight mass,
    * replayable by any engine with ranked cumulative sums, and
    * repartition/retry-invariant like every hash draw in this library.
    * Zero/negative-weight edges are excluded (they own no residues).
    *
    * HUB SAFETY: like [[deterministicWalks]], the per-vertex array is
    * capped at `maxDegree` BEFORE collection (`row_number` filter over
    * the dst order); the cumulative mass is computed over the retained
    * prefix only, so the draw stays exactly weight-proportional within
    * it and the truncation is replayable from the sorted edge list.
    */
  def weightedDeterministicWalks(maxLen: Int,
                                 maxDegree: Int = Graph.DefaultWalkMaxDegree): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"))
    val adj = edges.select(col("src"), col("dst"), col("w").cast("long").as("wt"))
      .groupBy(col("src"), col("dst")).agg(sum(col("wt")).as("wt"))
      .filter(col("wt") > 0)
      // rn then cum over the SAME (src, dst) window spec: one sort, the
      // filter between the two Window execs keeps cum prefix-local
      .withColumn("rn", row_number().over(win))
      .filter(col("rn") <= maxDegree).drop("rn")
      .withColumn("cum", sum(col("wt")).over(win))
      // cum is monotone in the dst order, so the struct sort (dst-first)
      // yields a cumulative array without a second window
      .groupBy(col("src"))
      .agg(sort_array(collect_list(struct(col("dst"), col("cum")))).as("nbrs"))
    var state = vertices.select(col("id").as("walk_id"),
      array(col("id")).as("path"), col("id").as("cur"))
    for (i <- 1 to maxLen) {
      val h = conv(substring(md5(concat(col("walk_id"), lit(s"|$i"))), 1, 15),
        16, 10).cast("long")
      val draw = h % element_at(col("nbrs"), -1).getField("cum")
      state = state.join(adj, col("cur") === col("src"), "left")
        .withColumn("nxt", when(col("nbrs").isNotNull,
          element_at(filter(col("nbrs"), x => x.getField("cum") > draw), 1)
            .getField("dst")))
        .select(col("walk_id"),
          when(col("nxt").isNotNull, concat(col("path"), array(col("nxt"))))
            .otherwise(col("path")).as("path"),
          coalesce(col("nxt"), col("cur")).as("cur"))
    }
    state.select(col("walk_id"), col("path"),
      (size(col("path")) - 1).cast("long").as("hops"))
  }

  /** Second-order (node2vec) deterministic walks — [[deterministicWalks]]
    * with the Grover–Leskovec bias (KDD'16): the weight of stepping from
    * `cur` to neighbor `n` depends on the PREVIOUS vertex — `wReturn` if
    * `n == prev` (the 1/p return bias), `wCommon` if `n` is also a
    * neighbor of `prev` (distance 1, the "stay local" mass), `wOut`
    * otherwise (the 1/q exploration mass) — all exact integer weights,
    * draw = md5₆₀(walk|step) mod total, neighbor chosen by cumulative
    * weight. The first step has no `prev`, so it is uniform at `wOut`.
    *
    * Per step the frontier joins the dst-sorted adjacency hub TWICE
    * (cur's neighbors to step over, prev's to test distance-1
    * membership) and the pick is one O(degree) fold — no explode, no
    * per-step shuffle beyond the two equi-joins. The membership probe is
    * `array_contains` on prev's sorted array; both arrays are hub-capped
    * at `maxDegree` as in [[deterministicWalks]] (the distance-1 test is
    * then against the retained prefix — deterministic and replayable).
    */
  def node2vecWalks(maxLen: Int, wReturn: Long = 1L, wCommon: Long = 4L,
                    wOut: Long = 2L,
                    maxDegree: Int = Graph.DefaultWalkMaxDegree): DataFrame = {
    require(wReturn > 0 && wCommon > 0 && wOut > 0, "weights must be positive")
    val adj = Graph.cappedAdjacency(edges, maxDegree)
    val padj = adj.select(col("src").as("psrc"), col("nbrs").as("pnbrs"))
    def wOf(n: Column): Column =
      when(n === col("prev"), lit(wReturn))                       // null prev → false
        .when(col("pnbrs").isNotNull && array_contains(col("pnbrs"), n), lit(wCommon))
        .otherwise(lit(wOut))
    var state = vertices.select(col("id").as("walk_id"),
      array(col("id")).as("path"), col("id").as("cur"),
      lit(null).cast("string").as("prev"))
    for (i <- 1 to maxLen) {
      val h = conv(substring(md5(concat(col("walk_id"), lit(s"|$i"))), 1, 15),
        16, 10).cast("long")
      val total = aggregate(col("nbrs"), lit(0L), (acc, n) => acc + wOf(n))
      val draw = h % total
      // one O(degree) fold: carry (cum, pick), freeze pick at first cum > draw
      val pick = aggregate(col("nbrs"),
        struct(lit(0L).as("cum"), lit(null).cast("string").as("pick")),
        (acc, n) => {
          val cum = acc.getField("cum") + wOf(n)
          when(acc.getField("pick").isNotNull, acc)
            .otherwise(struct(cum.as("cum"),
              when(cum > draw, n).otherwise(lit(null).cast("string")).as("pick")))
        }).getField("pick")
      state = state.join(adj, col("cur") === col("src"), "left")
        .join(padj, col("prev") === col("psrc"), "left")
        .withColumn("nxt", when(col("nbrs").isNotNull, pick))
        .select(col("walk_id"),
          when(col("nxt").isNotNull, concat(col("path"), array(col("nxt"))))
            .otherwise(col("path")).as("path"),
          coalesce(col("nxt"), col("cur")).as("cur"),
          when(col("nxt").isNotNull, col("cur")).otherwise(col("prev")).as("prev"))
    }
    state.select(col("walk_id"), col("path"),
      (size(col("path")) - 1).cast("long").as("hops"))
  }

  /** GraphFrames-parity `shortestPaths`: hop distance from every vertex
    * TO each landmark, following edge direction. Returns exploded rows
    * `(id, landmark, distance)` (GraphFrames packs them in a map column;
    * rows are the relational, oracle-comparable shape) with unreachable
    * pairs absent — GraphFrames omits them from the map too.
    *
    * Bellman-Ford-style: `maxHops` rounds of (edge ⋈ dist) + min-agg,
    * both hash-partitioned on vertex id, so each round is one shuffle of
    * `(id, landmark, long)` rows — never the vertex payload. Distances
    * are exact integers; paths longer than `maxHops` are treated as
    * unreachable (document the cap; at 100 TB you bound rounds anyway).
    *
    * EAGER by default since round 8: each round checkpoints and the loop
    * stops the moment no new `(id, landmark)` row appears — unit-weight
    * BFS distances are final the round they are first set, so early exit
    * is exact. Measured at sf0.1: 3.03 s lazy → 1.07 s eager for the
    * 2-landmark row, 2.93 → 1.28 s for 3-landmark closeness; the old
    * "lazy is 1.7× faster" reading predated early exit (a fixed 6-round
    * eager loop pays count jobs for post-convergence no-op rounds, and
    * the lazy loop's logical tree doubles per round — 2⁶ seed copies by
    * round 6 — which is pure planner cost).
    */
  def shortestPaths(landmarks: Seq[String], maxHops: Int = 6): DataFrame =
    shortestPathsEager(landmarks, maxHops, eager = true)

  /** [[shortestPaths]] with a per-round materialization toggle. Unit-
    * weight BFS distances are FINAL the round they first appear, so the
    * eager path can stop the moment no new `(id, landmark)` row is
    * reached — on a small-diameter graph that is diameter+1 rounds, not
    * `maxHops` — and each round's plan is one join over a checkpointed
    * leaf instead of the lazily DOUBLED subtree (dist is referenced
    * twice per round; by round 6 the logical tree holds 2⁶ copies of
    * the seed, and past ~6 rounds optimizer time dominates execution —
    * the [[diameterLowerBound]] measurement: 23 s lazy vs 2.5 s eager
    * at 8 hops). The lazy path remains for A/B measurement and for
    * callers embedding this loop inside a larger lazy plan.
    */
  private[graft] def shortestPathsEager(landmarks: Seq[String], maxHops: Int,
                                        eager: Boolean): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    var dist = vertices.select(col("id"))
      .filter(col("id").isin(landmarks: _*))
      .select(col("id"), col("id").as("landmark"), lit(0L).as("distance"))
    if (eager) {
      dist = dist.localCheckpoint(true)
      var n = dist.count()
      var hop = 0
      var grown = true
      while (grown && hop < maxHops) {
        val stepped = e.join(dist.withColumnRenamed("id", "did"), col("dst") === col("did"))
          .select(col("src").as("id"), col("landmark"), (col("distance") + 1L).as("distance"))
        val next = dist.unionByName(stepped)
          .groupBy("id", "landmark").agg(min("distance").as("distance"))
          .localCheckpoint(true)
        val n2 = next.count()
        // the superseded round's checkpoint blocks are dead the moment
        // `next` is materialized — release them here, not at the next
        // context-wide clear (library callers may never call clear)
        graft.GraftStorage.releaseCheckpoint(dist)
        dist = next
        grown = n2 > n
        n = n2
        hop += 1
      }
      return dist
    }
    val deep = maxHops > Graph.LazyHopLimit
    for (hop <- 1 to maxHops) {
      val stepped = e.join(dist.withColumnRenamed("id", "did"), col("dst") === col("did"))
        .select(col("src").as("id"), col("landmark"), (col("distance") + 1L).as("distance"))
      dist = dist.unionByName(stepped)
        .groupBy("id", "landmark").agg(min("distance").as("distance"))
      if (deep && hop % Graph.CheckpointEvery == 0 && hop < maxHops)
        dist = dist.localCheckpoint(true)
    }
    dist
  }

  /** Level-synchronous UNDIRECTED BFS carrying exact shortest-path
    * COUNTS (σ): at wave k, a newly reached vertex's σ is the sum of σ
    * over its distance-(k−1) neighbors — the forward half of Brandes'
    * betweenness DP, kept integer-exact. Per wave: one equi-join against
    * the current frontier + one sum-aggregate + one LEFT ANTI against
    * the seen set, all keyed on vertex id; eager checkpoints with
    * superseded rounds released ([[shortestPaths]] contract). Simple-
    * graph semantics (parallel edges collapsed, self-loops dropped).
    * σ fits a long for any graph whose per-level branching keeps path
    * multiplicity under 2⁶³ — and that bound is ENFORCED, not assumed
    * (ADVICE r9 #4): each wave's emptiness probe also reads max(σ) and
    * the frontier count, and the loop require-fails when
    * maxσ·|frontier| could exceed Long.MaxValue (the next wave's σ sums
    * ≤ |frontier| terms each ≤ maxσ — conservative), so an adversarial
    * graph dies with a "switch to decimal" diagnosis instead of
    * silently wrapping stress scores. At the catalog's bounded hops the
    * counts are tiny.
    */
  private[graph] def pathCounts(root: String, maxHops: Int): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val u = und.union(und.select(col("b"), col("a"))).toDF("a", "b")
      .persistTracked()
    var acc = vertices.filter(col("id") === root)
      .select(col("id"), lit(0L).as("d"), lit(1L).as("sig"))
      .localCheckpoint(true)
    var frontier = acc
    var k = 1
    var grown = true
    while (grown && k <= maxHops) {
      val stepped = u
        .join(frontier.select(col("id").as("fid"), col("sig").as("fsig")),
          col("b") === col("fid"))
        .groupBy(col("a").as("id")).agg(sum(col("fsig")).as("sig"))
        .join(acc.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), lit(k.toLong).as("d"), col("sig"))
        .localCheckpoint(true)
      // one row reads emptiness AND the overflow guard inputs (the
      // former isEmpty probe cost the same action)
      val stat = stepped.agg(count(lit(1)), max(col("sig"))).head()
      if (stat.getLong(0) == 0L) {
        graft.GraftStorage.releaseCheckpoint(stepped)
        grown = false
      } else {
        require(stat.getLong(1) <= Long.MaxValue / stat.getLong(0),
          s"pathCounts: σ near long overflow at wave $k (max σ=${stat.getLong(1)} " +
            s"over ${stat.getLong(0)} frontier vertices) — aggregate σ as " +
            "decimal(38,0) for this graph")
        val next = acc.unionByName(stepped).localCheckpoint(true)
        graft.GraftStorage.releaseCheckpoint(acc)
        if (!(frontier eq acc)) graft.GraftStorage.releaseCheckpoint(frontier)
        acc = next
        frontier = stepped
      }
      k += 1
    }
    acc
  }

  /** STRESS centrality (Shimbel 1953) for one landmark pair: for every
    * vertex v on a shortest s–t path, the EXACT number of shortest s–t
    * paths passing through v — `σ_s(v) · σ_t(v)` for vertices with
    * `d_s(v) + d_t(v) = d(s,t)`. The path-count sibling of betweenness
    * whose scores are pure integers (products of exact σ counts), so the
    * whole row replays bit-for-bit where Brandes' fractional δ
    * accumulation would drag float division into the hash contract.
    * Returns `(id, ds, dt, sig_s, sig_t, through)`, endpoints excluded.
    *
    * Two [[pathCounts]] sweeps (from s and from t) + one id-keyed join;
    * d(s,t) is a 1-row driver reduction (the centroid precedent).
    */
  def stressCentrality(s: String, t: String, maxHops: Int = 6): DataFrame = {
    val fs = pathCounts(s, maxHops)
      .select(col("id"), col("d").as("ds"), col("sig").as("sig_s"))
    val distRows = fs.filter(col("id") === t).select(col("ds")).collect()
    require(distRows.nonEmpty,
      s"stressCentrality: '$t' not reachable from '$s' within $maxHops hops")
    stressAgainst(fs, s, t, distRows.head.getLong(0), maxHops)
  }

  /** [[stressCentrality]] with the far landmark PICKED from the graph —
    * the farthest vertex from `s` (ties → smallest id; the
    * [[diameterLowerBound]] sweep-pick) — so the pair stays structurally
    * interesting at any corpus density: a hand-pinned pair that sits at
    * distance 2 in the test corpus collapses to adjacency (empty stress
    * set) the moment the graph densifies. 1-row driver reduction for the
    * pick (centroid precedent).
    */
  def stressCentralityToFarthest(s: String, maxHops: Int = 6): DataFrame = {
    val fs = pathCounts(s, maxHops)
      .select(col("id"), col("d").as("ds"), col("sig").as("sig_s"))
    val far = fs.orderBy(col("ds").desc, col("id").asc)
      .select(col("id"), col("ds")).head()
    stressAgainst(fs, s, far.getString(0), far.getLong(1), maxHops)
  }

  private def stressAgainst(fs: DataFrame, s: String, t: String,
                            distST: Long, maxHops: Int): DataFrame = {
    val ft = pathCounts(t, maxHops)
      .select(col("id"), col("d").as("dt"), col("sig").as("sig_t"))
    fs.join(ft, Seq("id"))
      .filter(col("ds") + col("dt") === lit(distST) &&
        col("id") =!= s && col("id") =!= t)
      .select(col("id"), col("ds"), col("dt"), col("sig_s"), col("sig_t"),
        (col("sig_s") * col("sig_t")).as("through"))
  }

  /** HARMONIC centrality restricted to a landmark set: Σ 1/d(id, l) over
    * reached landmarks, the closeness variant that handles disconnected
    * graphs gracefully (unreached landmarks contribute 0 instead of
    * poisoning a mean). Rides the same eager early-exit BFS as
    * [[shortestPaths]]; the reciprocal sum uses the
    * [[resourceAllocation]] fixed-point contract — each term is the
    * exact integer `10¹⁵ div d` (d ≤ maxHops, trivially exact), the sum
    * a long aggregate bounded by |landmarks| terms, the score one
    * int→double conversion + one divide. Returns
    * `(id, n_reached, harmonic)`.
    */
  def harmonicCentrality(landmarks: Seq[String], maxHops: Int = 6): DataFrame =
    shortestPaths(landmarks, maxHops)
      .filter(col("distance") > 0L) // self-distance rows contribute nothing
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_reached"),
        (sum(floor(lit(1.0e15) / col("distance").cast("double")).cast("long"))
          .cast("double") / lit(1.0e15)).as("harmonic"))

  /** WEIGHTED shortest paths to each landmark (min-plus / Bellman-Ford):
    * [[shortestPaths]] with `distance + w` relaxation over an integer
    * weight column instead of `+ 1`. Per round: the same edge equi-join +
    * min-agg on vertex id, so each round shuffles `(id, landmark, long)`
    * rows; distances stay exact longs → the oracle replays the rounds as
    * a bounded recursive CTE bit-for-bit (a float-weight Dijkstra would
    * be neither replayable nor shuffle-friendly — priority queues don't
    * distribute; bounded-round Bellman-Ford is the standard BSP answer).
    *
    * `maxHops` bounds the EDGE COUNT of admissible paths, not the weight:
    * the result is the minimum weight over paths of ≤ `maxHops` edges
    * (exact shortest distance once `maxHops` ≥ the weighted-shortest
    * path's hop count; parallel edges collapse to the cheapest
    * automatically). Weights must be non-negative for the bound to be
    * monotone in rounds.
    */
  def shortestPathsWeighted(landmarks: Seq[String], weightCol: String,
                            maxHops: Int = 6): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col(weightCol).cast("long").as("__w"))
    var dist = vertices.select(col("id"))
      .filter(col("id").isin(landmarks: _*))
      .select(col("id"), col("id").as("landmark"), lit(0L).as("distance"))
      .localCheckpoint(true)
    // eager per-round like [[shortestPaths]], but NO early exit: a
    // min-plus relaxation can lower an existing distance without adding
    // a row, so "no new rows" is not convergence here — the loop runs
    // all `maxHops` relaxation rounds (the bound the result is defined
    // by). Checkpointing still replaces the per-round doubled logical
    // subtree with a leaf read.
    for (_ <- 1 to maxHops) {
      val stepped = e.join(dist.withColumnRenamed("id", "did"), col("dst") === col("did"))
        .select(col("src").as("id"), col("landmark"),
          (col("distance") + col("__w")).as("distance"))
      val next = dist.unionByName(stepped)
        .groupBy("id", "landmark").agg(min("distance").as("distance"))
        .localCheckpoint(true)
      graft.GraftStorage.releaseCheckpoint(dist) // superseded round — see shortestPaths
      dist = next
    }
    dist
  }

  /** Label propagation (GraphFrames `labelPropagation` semantics made
    * DETERMINISTIC): synchronous rounds where every vertex adopts the most
    * frequent label among its neighbors (both directions, multigraph
    * multiplicities counted), ties broken on the smallest label —
    * GraphFrames breaks ties by hash-order, which varies run to run; the
    * lexicographic rule is stable and oracle-replayable. Vertices with no
    * neighbors keep their current label. Labels start as the vertex id.
    *
    * Per round: one equi-join (neighbor labels) + two hash aggregates
    * (label counts, then `min_by` argmax over `(-count, label)` struct
    * ordering) — all keyed on vertex id, map-side partials throughout.
    * Lazy across rounds on purpose — the twice-referenced `labels`
    * subtree dedups via exchange reuse; see [[shortestPaths]] for the
    * measurement.
    */
  def labelPropagation(iters: Int = 3): DataFrame = {
    val und = edges.select(col("src").as("a"), col("dst").as("b"))
      .unionAll(edges.select(col("dst").as("a"), col("src").as("b")))
    var labels = vertices.select(col("id"), col("id").as("lbl"))
    for (_ <- 1 to iters) {
      val counts = und
        .join(labels.select(col("id").as("bid"), col("lbl")), col("b") === col("bid"))
        .groupBy(col("a").as("id"), col("lbl")).agg(count(lit(1)).as("cnt"))
      val winner = counts.groupBy("id")
        .agg(min_by(col("lbl"), struct((-col("cnt")).as("nc"), col("lbl").as("l"))).as("newLbl"))
      labels = labels.join(winner, Seq("id"), "left")
        .select(col("id"), coalesce(col("newLbl"), col("lbl")).as("lbl"))
    }
    labels
  }

  /** DIAMETER lower bound by the classic double-sweep BFS (Magnien,
    * Latapy & Habib, JEA 2009): BFS from a deterministic seed (the
    * minimum vertex id), re-BFS from the farthest vertex found
    * (ties → smallest id), report that sweep's eccentricity — a lower
    * bound that is exact on trees and empirically within 1-2 hops on
    * real graphs, at the cost of TWO bounded BFS instead of the O(V·E)
    * all-pairs exact diameter. Direction is ignored (diameter of the
    * underlying undirected graph, the standard convention).
    *
    * Scale shape: each sweep is a [[shortestPaths]] loop — `maxHops`
    * rounds of edge ⋈ dist + min-agg, shuffling `(id, long)` rows only.
    * The two argmax picks are 1-row driver reductions (the centroid/
    * codebook precedent), never a collect of the distance relation.
    * Distances beyond `maxHops` are treated unreachable, so `maxHops`
    * must dominate the true diameter for the bound to be meaningful —
    * the returned `n_reached` vs the vertex count is the caller's check.
    */
  def diameterLowerBound(maxHops: Int = 8): DataFrame = {
    // PIN the symmetrized edge set: both BFS sweeps join it every hop
    // round — unpinned, the union+distinct re-executes per round
    val und = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persistTracked()
    // EAGER per-round BFS with early exit — NOT the lazy shortestPaths
    // loop: single-source BFS on a small-diameter graph converges in
    // diameter+1 rounds, and at 8 allowed hops the lazy loop's doubled
    // logical subtree (2^8 references) costs far more in planning than
    // the per-round checkpoint jobs save (measured 23 s lazy vs ~2 s
    // eager at sf0.1). Unit-weight BFS distances are final once set, so
    // "no new vertex reached" IS convergence.
    def sweep(start: String): DataFrame = {
      var dist = vertices.select(col("id")).filter(col("id") === start)
        .select(col("id"), lit(0L).as("distance")).localCheckpoint(true)
      var n = dist.count()
      var hop = 0
      var grown = true
      while (grown && hop < maxHops) {
        val stepped = und
          .join(dist.withColumnRenamed("id", "did"), col("dst") === col("did"))
          .select(col("src").as("id"), (col("distance") + 1L).as("distance"))
        val next = dist.unionByName(stepped)
          .groupBy("id").agg(min("distance").as("distance"))
          .localCheckpoint(true)
        val n2 = next.count()
        graft.GraftStorage.releaseCheckpoint(dist) // superseded round — see shortestPaths
        dist = next
        grown = n2 > n
        n = n2
        hop += 1
      }
      dist
    }
    // agg over empty input yields one null row — fail with a diagnosable
    // message instead of an NPE three jobs later
    val startRow = vertices.agg(min(col("id"))).head()
    require(!startRow.isNullAt(0),
      "diameterLowerBound: graph has no vertices — nothing to sweep from")
    val start = startRow.getString(0)
    val far = sweep(start)
      .orderBy(col("distance").desc, col("id").asc).select(col("id"))
      .head().getString(0)
    sweep(far)
      .agg(max(col("distance")).as("diameter_lb"),
        count(lit(1)).as("n_reached"))
      .select(lit(start).as("start_id"), lit(far).as("peripheral_id"),
        col("diameter_lb"), col("n_reached"))
  }

  /** Triangles through each vertex, direction ignored (GraphFrames
    * `triangleCount` semantics). Canonical orientation `a < b` makes each
    * undirected edge one row and each triangle one (x < y < z) triple, so
    * the 3-way equi-join counts every triangle exactly once; two shuffles
    * (edge canonicalization + the join) and a final explode-count.
    */
  def triangleCount: DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val tri = und.as("e1")
      .join(und.as("e2"), col("e1.b") === col("e2.a"))
      .join(und.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val counts = tri.select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("tri_count"))
    vertices.select(col("id")).join(counts, Seq("id"), "left")
      .withColumn("tri_count", coalesce(col("tri_count"), lit(0L)))
  }

  /** Per-vertex local CLUSTERING COEFFICIENT (Watts–Strogatz):
    * `tri(v) / C(deg(v), 2)` — how close a vertex's neighborhood is to a
    * clique, the standard small-world / community-structure diagnostic.
    * Triangles and degrees are exact integers, the coefficient one IEEE
    * divide of them (0.0 when `deg < 2` — no divide-by-zero NaN to
    * diverge between engines). Costs [[triangleCount]] plus one degree
    * aggregate and an equi-join.
    */
  def clusteringCoefficient: DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("id")).unionAll(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    triangleCount
      .join(deg, Seq("id"), "left")
      .withColumn("degree", coalesce(col("degree"), lit(0L)))
      .withColumn("coeff",
        when(col("degree") >= 2,
          (col("tri_count") * 2).cast("double")
            / (col("degree") * (col("degree") - 1)).cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Newman modularity of a vertex partition (undirected, unweighted):
    * per community `c`,
    *
    *   term_c = L_c/m − (d_c/(2m))²
    *
    * (L_c intra-community edges, d_c total degree, m edge count); the
    * partition's modularity is Σ term_c. Returns
    * `(community, n_vertices, intra_edges, degree_sum, modularity_term)` —
    * the quality audit for any community detection output (LPA here).
    *
    * Plan: canonical edge set → two label joins (edge endpoints) + one
    * degree aggregate + label join, then per-community aggs; `m` attaches
    * as a ONE-ROW broadcast cross join (the corpus-stats pattern), never
    * a driver count. All counts are exact integers; the term is a fixed
    * IEEE tree over them — hash-replayable.
    */
  def modularity(assignment: DataFrame, idCol: String = "id",
                 labelCol: String = "lbl"): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val lbl = assignment.select(col(idCol).as("v"), col(labelCol).as("community"))

    val m = und.agg(count(lit(1)).as("m"))
    val la = lbl.select(col("v").as("va"), col("community").as("ca"))
    val lb = lbl.select(col("v").as("vb"), col("community").as("cb"))
    val intra = und
      .join(la, col("a") === col("va"))
      .join(lb, col("b") === col("vb"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("intra_edges"))
    val deg = und.select(col("a").as("v")).union(und.select(col("b")))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .join(lbl, "v")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_vertices"), sum(col("d")).as("degree_sum"))

    val mD = col("m").cast("double")
    deg.join(intra, Seq("community"), "left")
      .withColumn("intra_edges", coalesce(col("intra_edges"), lit(0L)))
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_vertices"), col("intra_edges"),
        col("degree_sum"),
        (col("intra_edges").cast("double") / mD -
          (col("degree_sum").cast("double") / (lit(2.0) * mD)) *
          (col("degree_sum").cast("double") / (lit(2.0) * mD)))
          .as("modularity_term"))
  }

  /** Common-neighbor link prediction: non-adjacent vertex pairs ranked by
    * how many neighbors they share — the classic "people you may know" /
    * co-occurrence signal (the count IS the unweighted Adamic-Adar
    * precursor; weighted variants divide by log-degree, which is not
    * hash-replayable cross-engine, so the count + the neighbor's degree
    * cap are the deterministic contract here).
    *
    * Plan: undirected distinct neighbor pairs → degree aggregate →
    * drop hub wedge-centers (degree > `maxDegree`) → ONE self-equi-join
    * on the shared neighbor → pair count ≥ `minCommon` → LEFT ANTI join
    * against the edge set (predict only NEW links).
    *
    * Scale: the wedge join is Σ d(n)² over wedge centers — the hub cap
    * bounds it at `maxDegree`·|E| (same hazard and same cure as the
    * shared-shingle dedup joins; at web scale you ALWAYS cap, because one
    * celebrity vertex otherwise emits 10¹² wedges). `minCommon` bounds
    * the output; dropped hubs are an explicit-threshold miss, exactly
    * like LSH bucket guards.
    */
  def commonNeighbors(minCommon: Long = 2L, maxDegree: Long = 1000L): DataFrame = {
    // und feeds the wedge join twice AND the final anti-join; wedge feeds
    // both self-join sides — persist both or the distinct + degree-join
    // subtree evaluates four times (the candidatePairsAuto lesson)
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .persistTracked()
    // (vertex, neighbor) in both directions
    val nbr = und.union(und.select(col("b"), col("a"))).toDF("v", "n")
    val deg = nbr.groupBy(col("n").as("hub")).agg(count(lit(1)).as("d"))
      .filter(col("d") <= maxDegree)
    val wedge = nbr.join(deg, nbr("n") === deg("hub")).select(col("v"), col("n"))
      .persistTracked()
    val pairs = wedge.as("l")
      .join(wedge.as("r"), col("l.n") === col("r.n") && col("l.v") < col("r.v"))
      .groupBy(col("l.v").as("a"), col("r.v").as("b"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
    pairs.join(und, Seq("a", "b"), "left_anti")
  }

  /** RESOURCE-ALLOCATION link prediction (Zhou, Lü & Zhang, EPJ B 2009):
    * score(x,y) = Σ_{z ∈ CN(x,y)} 1/deg(z) — the log-free sibling of
    * Adamic–Adar that consistently matches or beats it in the published
    * benchmarks, and the one whose score this engine can make
    * BIT-REPLAYABLE without any per-pair state: each 1/deg term is
    * pre-scaled to the exact integer `10¹⁵ div deg` on the wedge side,
    * the per-pair reduction is an exact decimal(38,0) SUM — commutative,
    * so partition/retry/engine-invariant where a double SUM is not — and
    * the score is ONE int→double conversion + ONE IEEE divide by the
    * exactly-representable 10¹⁵ at the end. No `collect_list`: the r8
    * version folded a sorted per-pair degree array, unbounded in the
    * pair's common-neighbor count (two co-hubs sharing 10⁶ capped-degree
    * neighbors = an 8 MB array row). Precision: |score error| ≤
    * common·10⁻¹⁵ — dwarfed by double rounding of the true sum itself.
    * Same wedge plan, hub cap, `minCommon` support floor, and non-edge
    * filter as [[commonNeighbors]].
    */
  def resourceAllocation(minCommon: Long = 2L, maxDegree: Long = 1000L): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .persistTracked()
    val nbr = und.union(und.select(col("b"), col("a"))).toDF("v", "n")
    val deg = nbr.groupBy(col("n").as("hub")).agg(count(lit(1)).as("d"))
      .filter(col("d") <= maxDegree)
    // fixed-point reciprocal 10¹⁵ div d, computed ONCE per wedge row.
    // floor(double-div) here IS exact integer division: 10¹⁵ < 2⁵³, so
    // for any d the quotient's half-ulp (q·2⁻⁵³) is strictly below the
    // smallest nonzero fractional part (q/10¹⁵) — rounding can never
    // cross an integer boundary. Replays in DuckDB as `10¹⁵ // d`.
    val wedge = nbr.join(deg, nbr("n") === deg("hub"))
      .select(col("v"), col("n"),
        floor(lit(RaFixedPoint.toDouble) / col("d").cast("double"))
          .cast("long").as("fp"))
      .persistTracked()
    val pairs = wedge.as("l")
      .join(wedge.as("r"), col("l.n") === col("r.n") && col("l.v") < col("r.v"))
      .groupBy(col("l.v").as("a"), col("r.v").as("b"))
      .agg(count(lit(1)).as("common"),
        // decimal(38,0) sum: exact and overflow-free at any common count
        // a physical graph can produce (10³⁸/10¹⁵ = 10²³ terms), where a
        // long sum would wrap past ~1.8·10⁴ degree-2 common neighbors
        sum(col("l.fp").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .as("fps"))
      .filter(col("common") >= minCommon)
      .withColumn("ra_score", col("fps").cast("double") / lit(RaFixedPoint.toDouble))
      .drop("fps")
    pairs.join(und, Seq("a", "b"), "left_anti")
  }

  /** Fixed-point scale for [[resourceAllocation]]: 10¹⁵ (< 2⁵³). */
  private val RaFixedPoint = 1000000000000000L

  /** k-core decomposition: the maximal subgraph in which every vertex has
    * degree ≥ k (direction ignored, self-loops dropped, parallel edges
    * collapsed — the standard simple-graph semantics). Returns
    * `(id, deg)` — the surviving vertices with their in-core degree.
    *
    * The classic peel loop: drop sub-k vertices, restrict edges to the
    * survivors, repeat to fixed point. Per round: one degree aggregate +
    * two LEFT SEMI joins, all hash-partitioned on vertex id — no
    * driver-side graph state; the per-round `count()` is job-sizing
    * control flow (the [[graft.pipeline.Dedup.components]] precedent).
    * Rounds are bounded by the peel depth (≤ degeneracy ordering depth,
    * usually single digits on social-ish graphs); the cap fails LOUDLY
    * rather than returning an unconverged core, because downstream
    * consumers assume the degree invariant.
    */
  def kCore(k: Int, maxIter: Int = 12): DataFrame = kCoreWithRounds(k, maxIter)._1

  /** [[kCore]] plus the executed peel-round count (incl. the final
    * no-change round) — rounds, not seconds, are the 100× cost driver
    * for a peel, so scaling probes record them per SF (SCALE.md).
    */
  def kCoreWithRounds(k: Int, maxIter: Int = 12): (DataFrame, Int) = {
    // eager localCheckpoint per round, NOT persist: each round reads the
    // previous edge set three times (degree union ×2 + the semi-join
    // source), so the retained plan tree triples per round — the same
    // exponential plan-serialization trap documented in
    // [[graft.pipeline.Dedup.components]]. Checkpointing cuts the plan to
    // a leaf; deep peels stay O(1) per round. Swap in reliable
    // checkpoint() on a real cluster.
    var cur = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)
    var nEdges = cur.count()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val deg = cur.select(col("a").as("id")).unionAll(cur.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("id")
      val next = cur
        .join(keep.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
        .select("a", "b")
        .localCheckpoint(true)
      val n = next.count()
      converged = n == nEdges
      cur = next
      nEdges = n
      iter += 1
    }
    require(converged,
      s"Graph.kCore: still peeling after $maxIter iterations — raise maxIter")
    // `cur` is checkpointed — the returned plan reads its blocks twice
    // (a/b sides) without recomputing the peel
    (cur.select(col("a").as("id")).unionAll(cur.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg")), iter)
  }

  /** k-TRUSS decomposition (Cohen 2008) — the EDGE-cohesion companion of
    * [[kCore]]: keep only edges supported by at least `k−2` triangles
    * within the surviving subgraph, peeling until stable. A k-truss is a
    * stricter community witness than a k-core (every edge needs k−2
    * common neighbors, not every vertex k neighbors).
    *
    * Per round, per-edge support is ONE wedge self-join closed against
    * the edge set: for triangle `{x<y<z}` the wedges centered at each
    * vertex close exactly one of its three edges, so `groupBy(closing
    * edge).count` IS the triangle-per-edge support — no per-triangle
    * dedup pass. Same scale discipline as [[kCore]]: canonical `a<b`
    * edges, eager localCheckpoint per round (the wedge join reads the
    * edge set three times), convergence REQUIRED within `maxIter`.
    * Returns the surviving `(a, b, support)` edges.
    */
  def kTruss(k: Int, maxIter: Int = 12): DataFrame = kTrussWithRounds(k, maxIter)._1

  /** [[kTruss]] plus the number of peel rounds actually executed
    * (including the final no-change confirming round). Callers that
    * replay the peel with a FIXED unroll depth (the DuckDB oracle) can
    * assert `rounds <= depth` so a dataset needing a deeper peel is
    * diagnosed as a depth problem, not a generic hash mismatch.
    */
  def kTrussWithRounds(k: Int, maxIter: Int = 12): (DataFrame, Int) = {
    require(k >= 3, s"k must be >= 3, got $k")
    var cur = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)
    var nEdges = cur.count()
    var converged = false
    var iter = 0
    var sup: DataFrame = null
    while (!converged && iter < maxIter) {
      val sym = cur.select(col("a").as("u"), col("b").as("n"))
        .unionAll(cur.select(col("b").as("u"), col("a").as("n")))
      val closings = sym.as("x").join(sym.as("y"),
          col("x.u") === col("y.u") && col("x.n") < col("y.n"))
        .select(col("x.n").as("a"), col("y.n").as("b"))
        .join(cur, Seq("a", "b"), "left_semi")
      sup = cur.join(closings.groupBy("a", "b").agg(count(lit(1)).as("support")),
          Seq("a", "b"), "left")
        .select(col("a"), col("b"), coalesce(col("support"), lit(0L)).as("support"))
      val next = sup.filter(col("support") >= k - 2).select("a", "b")
        .localCheckpoint(true)
      val n = next.count()
      converged = n == nEdges
      cur = next
      nEdges = n
      iter += 1
    }
    require(converged,
      s"Graph.kTruss: still peeling after $maxIter iterations — raise maxIter")
    // converged: the last computed support is the support of the final set
    (sup.filter(col("support") >= k - 2), iter)
  }

  /** Strongly connected components of the DIRECTED graph: `(id,
    * component)` where `component` is the smallest member id of the SCC —
    * the same canonical labeling as [[connectedComponents]], so the result
    * is algorithm-independent and the oracle can verify against the SPEC
    * (mutual reachability via transitive closure) rather than replaying
    * our rounds.
    *
    * Algorithm: the distributed trim + forward-min-coloring + backward
    * confirmation peel (the FW-BW/coloring family — Orzan's coloring step
    * with the standard trim preprocessing; no Tarjan, which is inherently
    * sequential). Per outer round:
    *
    *   1. TRIM to fixpoint: a vertex with no in-edges or no out-edges in
    *      the remaining subgraph is a singleton SCC — emit and drop. This
    *      kills DAG tails/chains that would otherwise cost one round EACH.
    *   2. COLOR forward to fixpoint: `color(v) = min(v, min color over
    *      in-neighbors)` — converges to the min id that reaches v.
    *   3. CONFIRM backward: within one color class, the SCC of the class
    *      root r (the vertex with `color(r) = r`) is every v with
    *      `color(v) = r` that reaches r through same-colored vertices
    *      (intermediates on such a path provably carry color r). One
    *      reachable-flag propagation along REVERSED edges, all color
    *      classes in parallel. Emit those SCCs, drop them, repeat.
    *
    * Every step is an equi-join + aggregate hash-partitioned on vertex id;
    * per-iteration `count()`s are job-sizing control flow and convergence
    * checks (the [[graft.pipeline.Dedup.components]] precedent), never
    * data collects. Eager `localCheckpoint` bounds lineage exactly as in
    * [[kCore]]. Rounds are data-bounded (each round removes every current
    * color root's SCC plus all trimmable tails); the cap fails LOUDLY
    * because an unconverged peel would silently mislabel remaining SCCs.
    *
    * TWO-REGIME like [[graft.pipeline.Dedup.components]]: at or below
    * `localEdgeThreshold` remaining edges (measured, after the self-loop
    * drop), ONE mapPartitions task runs iterative Tarjan and labels each
    * SCC by its min member in UTF-8 binary order — exactly the canonical
    * labels the peel converges to, without a job per propagation round.
    * 2M edges is tens of MB in one task; above it the distributed peel
    * runs unchanged. Spec-pinned: both regimes emit identical rows.
    */
  def stronglyConnectedComponents(maxRounds: Int = 10,
                                  maxPropIter: Int = 25,
                                  localEdgeThreshold: Long =
                                    graft.GraftConfig.LocalEdgeThreshold): DataFrame = {
    val spark = edges.sparkSession
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType()
        .add("id", org.apache.spark.sql.types.StringType)
        .add("component", org.apache.spark.sql.types.StringType))
    var done = empty
    // self-loops don't affect SCC membership; drop them up front
    var remE = edges.select(col("src").cast("string").as("src"),
        col("dst").cast("string").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(true)
    var remV = vertices.select(col("id").cast("string").as("id")).distinct()
      .localCheckpoint(true)
    if (remE.count() <= localEdgeThreshold)
      return Graph.localScc(remV, remE).localCheckpoint(true)
    var nV = remV.count()
    var round = 0
    while (nV > 0 && round < maxRounds) {
      // 1. trim to fixpoint
      var trimming = true
      var ti = 0
      while (trimming && ti < maxPropIter) {
        val keep = remV
          .join(remE.select(col("src").as("id")).distinct(), Seq("id"), "left_semi")
          .join(remE.select(col("dst").as("id")).distinct(), Seq("id"), "left_semi")
          .localCheckpoint(true)
        val nKeep = keep.count()
        if (nKeep == nV) trimming = false
        else {
          done = done.unionByName(
            remV.join(keep, Seq("id"), "left_anti")
              .select(col("id"), col("id").as("component"))).localCheckpoint(true)
          remV = keep
          remE = remE
            .join(keep.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
            .join(keep.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
            .localCheckpoint(true)
          nV = nKeep
        }
        ti += 1
      }
      // (an un-fixpointed trim is only a missed optimization — coloring +
      // confirmation below are correct on whatever remains)
      if (nV > 0) {
        // 2. forward min-coloring to fixpoint
        var colors = remV.withColumn("color", col("id")).localCheckpoint(true)
        var changed = Long.MaxValue
        var ci = 0
        while (changed > 0 && ci < maxPropIter) {
          val inMin = remE.join(colors.withColumnRenamed("id", "src"), Seq("src"))
            .groupBy(col("dst").as("id")).agg(min(col("color")).as("m"))
          val next = colors.withColumnRenamed("color", "old")
            .join(inMin, Seq("id"), "left")
            .select(col("id"),
              least(col("old"), coalesce(col("m"), col("old"))).as("color"), col("old"))
            .localCheckpoint(true)
          changed = next.filter(col("color") =!= col("old")).count()
          colors = next.drop("old")
          ci += 1
        }
        require(changed == 0,
          s"Graph.scc: coloring still changing after $maxPropIter iterations — " +
            "raise maxPropIter (reachability diameter exceeds the cap)")
        // 3. backward confirmation from each color root, classes in parallel
        var reached = colors.filter(col("id") === col("color"))
          .select(col("id"), col("color")).localCheckpoint(true)
        var grew = Long.MaxValue
        var bi = 0
        while (grew > 0 && bi < maxPropIter) {
          // v→u with u already confirmed and color(v) = color(u): v reaches
          // the root too
          val step = remE
            .join(reached.withColumnRenamed("id", "dst"), Seq("dst"))
            .select(col("src").as("id"), col("color"))
            .join(colors.withColumnRenamed("color", "vc"), Seq("id"))
            .filter(col("color") === col("vc"))
            .select(col("id"), col("color"))
          val nextReached = reached.unionByName(step).distinct().localCheckpoint(true)
          grew = nextReached.count() - reached.count()
          reached = nextReached
          bi += 1
        }
        require(grew == 0,
          s"Graph.scc: backward pass still growing after $maxPropIter iterations — " +
            "raise maxPropIter")
        done = done.unionByName(reached.select(col("id"), col("color").as("component")))
          .localCheckpoint(true)
        remV = remV.join(reached.select("id"), Seq("id"), "left_anti")
          .localCheckpoint(true)
        remE = remE
          .join(remV.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
          .join(remV.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
          .localCheckpoint(true)
        nV = remV.count()
      }
      round += 1
    }
    require(nV == 0,
      s"Graph.scc: $nV vertices unresolved after $maxRounds rounds — raise maxRounds")
    done
  }

  /** CSV export of edges + vertices (reference S2, `bigdata/__init__.py:96-114`).
    * `coalesce(1)` instead of the reference's `repartition(1)` — same single
    * output file without a shuffle, but not free: the coalesce is pushed
    * into the stage that computes `edges` and `vertices`, so everything
    * upstream of the last exchange runs in ONE task. When `edges` is a
    * cached relation not yet built, that single task builds the whole
    * cache; keep the coalesce only where a single file is the contract.
    */
  def save(path: String, prefix: String, sep: String = ","): Unit = {
    def write(df: DataFrame, p: String): Unit =
      df.coalesce(1).write.mode("overwrite")
        .option("header", "true").option("sep", sep).csv(p)
    write(edges, s"$path/$prefix.edges.csv")
    write(vertices, s"$path/$prefix.vertices.csv")
  }
}

object Graph {
  /** Default per-vertex adjacency cap for the walk family. A power-law
    * hub at 100 TB would otherwise materialize its full neighbor list as
    * ONE array row inside a `collect_list` buffer — the executor-OOM
    * class SURVEY §7.4 risk 5 names. The default 10000 string neighbors
    * ≈ a few hundred KB per hub row: safely bounded, and far above every
    * degree in the test corpus, so defaults never change results there.
    * Env-tunable via `SPARK_GRAFT_WALK_MAX_DEGREE`
    * ([[graft.GraftConfig.WalkMaxDegree]]) — the right cap is a
    * cluster-memory fact, not a compile-time one.
    */
  def DefaultWalkMaxDegree: Int = graft.GraftConfig.WalkMaxDegree

  /** Dst-sorted adjacency arrays, hub-capped BEFORE collection: a
    * `row_number` over `(src ORDER BY dst)` keeps only the first
    * `maxDegree` neighbors, so the sort spills (disk-backed) while the
    * array buffer stays bounded — `slice` AFTER `collect_list` would
    * still OOM building the full array. The retained prefix is a pure
    * function of the (distinct) edge set: deterministic, replayable by
    * any engine that can slice a sorted neighbor list.
    */
  private[graph] def cappedAdjacency(edges: DataFrame, maxDegree: Int): DataFrame = {
    require(maxDegree > 0, "maxDegree must be positive")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"))
    edges.select(col("src"), col("dst")).distinct()
      .withColumn("rn", row_number().over(win))
      .filter(col("rn") <= maxDegree)
      .groupBy(col("src")).agg(sort_array(collect_list(col("dst"))).as("nbrs"))
  }

  /** Past this many rounds, the lazy shortest-path loops (whose doubled
    * logical subtree grows per round — see [[Graph.shortestPaths]]) switch
    * to periodic eager lineage truncation.
    */
  val LazyHopLimit = 10

  /** Truncation stride for deep loops: one eager `localCheckpoint` every
    * this many rounds bounds optimizer input to a constant-size plan while
    * amortizing the materialization cost.
    */
  val CheckpointEvery = 5

  /** Single-task iterative Tarjan — the below-threshold regime of
    * [[Graph.stronglyConnectedComponents]]. Input: string-id vertex and
    * (self-loop-free) edge relations; edges whose endpoints are outside
    * the vertex set are ignored, matching the distributed peel's trim
    * semi-joins. Labels each SCC by its minimum member in unsigned UTF-8
    * byte order (Spark's UTF8_BINARY `min()` — the same canonical label
    * the coloring peel converges to). Iterative DFS with an explicit
    * frame stack: no recursion depth limit, O(V+E) total.
    */
  private[graph] def localScc(remV: DataFrame, remE: DataFrame): DataFrame = {
    val cmp = graft.pipeline.Dedup.localIdCompare(
      org.apache.spark.sql.types.StringType).get
    val outSchema = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.StringType, nullable = false)
      .add("component", org.apache.spark.sql.types.StringType, nullable = false)
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    // vertices ride as (id, null) rows so ONE partition sees both relations
    val tagged = remV.select(col("id").as("a"), lit(null).cast("string").as("b"))
      .unionByName(remE.select(col("src").as("a"), col("dst").as("b")))
    tagged.repartition(1).mapPartitions { it =>
      val idx = new java.util.HashMap[String, Integer]()
      val ids = new scala.collection.mutable.ArrayBuffer[String]()
      val rawEdges = new scala.collection.mutable.ArrayBuffer[(String, String)]()
      it.foreach { r =>
        if (r.isNullAt(1)) {
          val v = r.getString(0)
          if (!idx.containsKey(v)) { idx.put(v, ids.length); ids += v }
        } else rawEdges += ((r.getString(0), r.getString(1)))
      }
      val n = ids.length
      val adjHead = Array.fill(n)(-1)
      val adjNext = new Array[Int](rawEdges.length)
      val adjTo = new Array[Int](rawEdges.length)
      var m = 0
      rawEdges.foreach { case (s, d) =>
        val si = idx.get(s); val di = idx.get(d)
        if (si != null && di != null) { // trim semantics: both ends known
          adjTo(m) = di; adjNext(m) = adjHead(si); adjHead(si) = m; m += 1
        }
      }
      val index = Array.fill(n)(-1)
      val low = new Array[Int](n)
      val onStk = new Array[Boolean](n)
      val comp = Array.fill(n)(-1)
      val sccStack = new java.util.ArrayDeque[Integer]()
      val labels = new scala.collection.mutable.ArrayBuffer[String]()
      var timer = 0
      // explicit DFS frames: vertex + cursor into its adjacency list
      val fv = new scala.collection.mutable.ArrayBuffer[Int]()
      val fe = new scala.collection.mutable.ArrayBuffer[Int]()
      def pushFrame(v: Int): Unit = {
        index(v) = timer; low(v) = timer; timer += 1
        sccStack.push(v); onStk(v) = true
        fv += v; fe += adjHead(v)
      }
      var root = 0
      while (root < n) {
        if (index(root) == -1) {
          pushFrame(root)
          while (fv.nonEmpty) {
            val v = fv(fv.length - 1)
            val e = fe(fe.length - 1)
            if (e != -1) {
              fe(fe.length - 1) = adjNext(e)
              val w = adjTo(e)
              if (index(w) == -1) pushFrame(w)
              else if (onStk(w) && index(w) < low(v)) low(v) = index(w)
            } else {
              fv.remove(fv.length - 1); fe.remove(fe.length - 1)
              if (fv.nonEmpty) {
                val p = fv(fv.length - 1)
                if (low(v) < low(p)) low(p) = low(v)
              }
              if (low(v) == index(v)) {
                // pop the SCC; label = min member id (UTF-8 byte order)
                val members = new scala.collection.mutable.ArrayBuffer[Int]()
                var w = -1
                while (w != v) {
                  w = sccStack.pop(); onStk(w) = false; members += w
                }
                var lbl = ids(members(0))
                members.foreach { u => if (cmp(ids(u), lbl) < 0) lbl = ids(u) }
                val li = labels.length; labels += lbl
                members.foreach(u => comp(u) = li)
              }
            }
          }
        }
        root += 1
      }
      (0 until n).iterator.map(i =>
        org.apache.spark.sql.Row(ids(i), labels(comp(i))))
    }
  }

  /** Distinct endpoint ids of an edge set — the vertex-derivation idiom the
    * reference repeats at `RetweetTagsJaccardGraph.py:68-70,131-133,188-190`.
    * Each edge is exploded into its two endpoints, so the edges are read
    * once rather than once per endpoint column, and the `distinct` keeps
    * set semantics: a self-loop gives one id, a null endpoint one null
    * row, exactly like the union of the two projections.
    */
  def verticesOf(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("src"), col("dst"))).as("id")).distinct()

  /** Skip-gram `(center, context, cnt)` pair extraction from a walk
    * relation (`walk_id`, `path`) — the word2vec/DeepWalk training-corpus
    * step after [[Graph.deterministicWalks]]. One positional self-join
    * keyed on `walk_id`; the `|Δpos| ≤ window` residual prunes inside
    * each equi-join group, so cost is walks × pathLen × 2·window, never
    * a cross product.
    */
  def skipGramPairs(walks: DataFrame, window: Int): DataFrame = {
    val pos = walks.select(col("walk_id"),
      posexplode(col("path")).as(Seq("pos", "w")))
    pos.as("a").join(pos.as("b"),
        col("a.walk_id") === col("b.walk_id") && col("a.pos") =!= col("b.pos") &&
          abs(col("a.pos") - col("b.pos")) <= window)
      .groupBy(col("a.w").as("center"), col("b.w").as("context"))
      .agg(count(lit(1)).as("cnt"))
  }
}
