package graft

import graft.graph.Graph

class GraphAlgorithmsSpec extends SparkTestBase {
  import spark.implicits._

  // triangle a-b-c (one edge reversed to prove direction is ignored),
  // pendant d hanging off c, disconnected pair e-f, isolated vertex g
  private lazy val g = {
    val e = Seq(
      ("a", "b", 1.0, "T"), ("b", "c", 1.0, "T"), ("c", "a", 1.0, "T"),
      ("c", "d", 1.0, "T"), ("e", "f", 1.0, "T"))
      .toDF("src", "dst", "w", "type")
    val v = Graph.verticesOf(e).union(Seq("g").toDF("id")).distinct()
    Graph(v, e)
  }

  test("verticesOf: one-scan explode form ≡ the union of the two projections") {
    val e = Seq[(String, String)](
      ("a", "b"), ("a", "b"), // duplicate edge
      ("c", "c"),             // self-loop
      ("d", null), (null, "a"))
      .toDF("src", "dst")
    val union = e.select($"src".as("id")).union(e.select($"dst".as("id"))).distinct()
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => Option(r.getString(0))).toSeq.sorted
    assert(ids(Graph.verticesOf(e)) === ids(union))
    assert(ids(Graph.verticesOf(e)) === Seq(None, Some("a"), Some("b"), Some("c"), Some("d")))
  }

  test("degrees / inDegrees / outDegrees count edge endpoints") {
    val d = g.degrees.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d === Map("a" -> 2L, "b" -> 2L, "c" -> 3L, "d" -> 1L, "e" -> 1L, "f" -> 1L))
    val in = g.inDegrees.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(in === Map("b" -> 1L, "c" -> 1L, "a" -> 1L, "d" -> 1L, "f" -> 1L))
    val out = g.outDegrees.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("a" -> 1L, "b" -> 1L, "c" -> 2L, "e" -> 1L))
  }

  test("bfs: all minimum-length paths, directed, stable schema") {
    import org.apache.spark.sql.functions.col
    // diamond with a longer decoy: a→b→d, a→c→d (both length 2), a→x→y→d
    val e = Seq(
      ("a", "b", 1.0, "T"), ("b", "d", 1.0, "T"),
      ("a", "c", 1.0, "T"), ("c", "d", 1.0, "T"),
      ("a", "x", 1.0, "T"), ("x", "y", 1.0, "T"), ("y", "d", 1.0, "T"))
      .toDF("src", "dst", "w", "type")
    val dg = Graph(Graph.verticesOf(e), e)
    val paths = dg.bfs(col("id") === "a", col("id") === "d").collect()
      .map(r => (r.getString(0), r.getString(1), r.getSeq[String](2).toList, r.getLong(3)))
    assert(paths.toSet === Set(
      ("a", "d", List("a", "b", "d"), 2L),
      ("a", "d", List("a", "c", "d"), 2L))) // the length-3 decoy is NOT returned
  }

  test("bfs: length-0 self hit, direction respected, unreachable is empty") {
    import org.apache.spark.sql.functions.col
    // a→b only: b cannot reach a
    val e = Seq(("a", "b", 1.0, "T")).toDF("src", "dst", "w", "type")
    val dg = Graph(Graph.verticesOf(e), e)
    val self = dg.bfs(col("id") === "a", col("id") === "a").collect()
    assert(self.map(r => (r.getString(0), r.getLong(3))).toSeq === Seq(("a", 0L)))
    assert(dg.bfs(col("id") === "b", col("id") === "a", maxPathLength = 4).isEmpty)
  }

  test("bfs: cycle guard terminates on cyclic graphs within maxPathLength") {
    import org.apache.spark.sql.functions.col
    val e = Seq(("a", "b", 1.0, "T"), ("b", "a", 1.0, "T"), ("b", "c", 1.0, "T"))
      .toDF("src", "dst", "w", "type")
    val dg = Graph(Graph.verticesOf(e), e)
    val paths = dg.bfs(col("id") === "a", col("id") === "c").collect()
      .map(r => r.getSeq[String](2).toList)
    assert(paths.toSeq === Seq(List("a", "b", "c")))
  }

  test("connectedComponents: min-id labels, singleton vertices included") {
    val cc = g.connectedComponents().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc === Map(
      "a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "e" -> "e", "f" -> "e",
      "g" -> "g")) // isolated vertex is its own component
  }

  test("triangleCount: direction ignored, non-members zero") {
    val tc = g.triangleCount.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tc === Map(
      "a" -> 1L, "b" -> 1L, "c" -> 1L, // the one triangle
      "d" -> 0L, "e" -> 0L, "f" -> 0L, "g" -> 0L))
  }

  test("pageRank: matches an independent in-test fixed-point implementation") {
    val edgeList = Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d", "e" -> "f")
    // reference implementation: same fixed-point recurrence, plain Scala
    val verts = (edgeList.flatMap(e => Seq(e._1, e._2)) :+ "g").distinct
    val outDeg = edgeList.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var rank = verts.map(_ -> 1000000000L).toMap
    for (_ <- 1 to 10) {
      val contrib = edgeList.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => rank(u) / outDeg(u) }.sum).toMap
      rank = verts.map(v => v -> (150000000L + 17L * contrib.getOrElse(v, 0L) / 20L)).toMap
    }
    val got = g.pageRank(10).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === rank)
    // structural sanity: c splits evenly between a and d → equal ranks,
    // and both trail c (which receives b's whole share)
    assert(got("a") === got("d"))
    assert(got("c") > got("a"))
    assert(got("g") === 150000000L) // isolated vertex: base mass only
  }

  test("hits: matches an independent in-test max-rescaled replay") {
    val edgeList = Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d", "e" -> "f")
    val verts = (edgeList.flatMap(e => Seq(e._1, e._2)) :+ "g").distinct
    val S = 1000000L
    var hub = verts.map(_ -> S).toMap
    var auth = verts.map(_ -> S).toMap
    for (_ <- 1 to 5) {
      val ra = edgeList.groupBy(_._2).view.mapValues(_.map(e => hub(e._1)).sum).toMap
      val ma = ra.values.max
      val a2 = ra.view.mapValues(v => v * S / ma).toMap
      val rh = edgeList.groupBy(_._1).view.mapValues(_.map(e => a2.getOrElse(e._2, 0L)).sum).toMap
      val mh = rh.values.max
      hub = verts.map(v => v -> rh.get(v).map(x => x * S / mh).getOrElse(0L)).toMap
      auth = verts.map(v => v -> a2.getOrElse(v, 0L)).toMap
    }
    val got = g.hits(5).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === verts.map(v => v -> (hub(v), auth(v))).toMap)
    // structural sanity: c is the strongest hub in the triangle (it points
    // at both a and d); isolated g scores zero on both axes
    assert(got("g") === (0L, 0L))
    assert(got("c")._1 === 1000000L) // max-rescale puts the top hub at S
  }

  test("personalizedPageRank: matches an in-test replay; off-component ranks zero") {
    import org.apache.spark.sql.functions.lit
    val edgeList = Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d", "e" -> "f")
    val verts = (edgeList.flatMap(e => Seq(e._1, e._2)) :+ "g").distinct
    val outDeg = edgeList.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var rank = verts.map(v => v -> (if (v == "a") 1000000000L else 0L)).toMap
    for (_ <- 1 to 10) {
      val contrib = edgeList.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => rank(u) / outDeg(u) }.sum).toMap
      rank = verts.map(v => v ->
        ((if (v == "a") 150000000L else 0L) + 17L * contrib.getOrElse(v, 0L) / 20L)).toMap
    }
    val got = g.personalizedPageRank(lit("a"), 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === rank)
    // vertices unreachable from the source get NO mass — the point of PPR
    assert(got("e") === 0L && got("f") === 0L && got("g") === 0L)
    // the source dominates its own neighborhood
    assert(got("a") > got("b") && got("b") > 0L)
  }

  test("shortestPaths: directed hop distances to landmarks, unreachable absent") {
    val got = g.shortestPaths(Seq("a", "d"), maxHops = 6).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      ("a", "a") -> 0L, ("c", "a") -> 1L, ("b", "a") -> 2L,           // via c→a
      ("d", "d") -> 0L, ("c", "d") -> 1L, ("b", "d") -> 2L, ("a", "d") -> 3L))
    // hop cap truncates: with maxHops=2, a can no longer reach d
    val capped = g.shortestPaths(Seq("d"), maxHops = 2).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(!capped.contains(("a", "d")) && capped.contains(("b", "d")))
  }

  test("aggregateMessages: weighted degree desugars to degrees; one-sided send") {
    import org.apache.spark.sql.functions.{col, min, sum}
    // send w=1.0 to both ends + sum ≡ degrees
    val wdeg = g.aggregateMessages(Some(col("w")), Some(col("w")), m => sum(m))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val deg = g.degrees.collect().map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    assert(wdeg === deg)
    // one-sided: min incoming neighbor id per dst
    val minIn = g.aggregateMessages(None, Some(col("src")), m => min(m))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(minIn === Map("b" -> "a", "c" -> "b", "a" -> "c", "d" -> "c", "f" -> "e"))
  }

  test("labelPropagation: deterministic smallest-label ties, isolated keeps own") {
    // round 1 (und neighbor labels, ties → smallest):
    //   a~{b,c}→b, b~{a,c}→a, c~{a,b,d}→a, d~{c}→c, e~{f}→f, f~{e}→e, g→g
    // round 2: triangle converges to a, d follows c, e/f oscillate back
    val l1 = g.labelPropagation(1).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(l1 === Map("a" -> "b", "b" -> "a", "c" -> "a", "d" -> "c",
      "e" -> "f", "f" -> "e", "g" -> "g"))
    val l2 = g.labelPropagation(2).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(l2("d") === "a" && l2("e") === "e" && l2("f") === "f" && l2("g") === "g")
  }

  test("kCore: peel removes pendant and chain, keeps the triangle; cascade works") {
    // 2-core of g: d (deg 1) and e-f (deg 1 each) peel away; the triangle
    // survives with every degree exactly 2 (c's edge to d vanishes)
    val core2 = g.kCore(2).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core2 === Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
    // 3-core is empty — and the peel must CASCADE (after d peels, c drops
    // to 2 and the triangle unravels only at k=3, not k=2)
    assert(g.kCore(3).count() === 0)
  }

  test("kCore: cap fails loudly instead of returning an unconverged core") {
    import spark.implicits._
    // a long path peels one layer per round from each end — 1 iteration
    // cannot finish, and an unconverged result must throw, not return
    val e = (1 to 12).map(i => (s"v$i", s"v${i + 1}", 1.0, "T"))
      .toDF("src", "dst", "w", "type")
    val pathG = Graph(Graph.verticesOf(e), e)
    assertThrows[IllegalArgumentException](pathG.kCore(2, maxIter = 1))
  }

  test("triangleCount: duplicate and reversed edges do not double-count") {
    val e = Seq(
      ("a", "b", 1.0, "T"), ("b", "a", 1.0, "T"), // same undirected edge twice
      ("b", "c", 1.0, "T"), ("a", "c", 1.0, "T"),
      ("a", "a", 1.0, "T")) // self-loop must be ignored
      .toDF("src", "dst", "w", "type")
    val tc = Graph(Graph.verticesOf(e), e).triangleCount.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tc === Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
  }

  test("shortestPathsWeighted: min-plus picks the cheaper longer path; parallel edges collapse") {
    import spark.implicits._
    // a→d direct costs 10; a→b→c→d costs 1+1+1 = 3; parallel a→d of 7
    // also loses. Direction: distances are TO the landmark d.
    val e = Seq(
      ("a", "d", 10L), ("a", "d", 7L),
      ("a", "b", 1L), ("b", "c", 1L), ("c", "d", 1L)).toDF("src", "dst", "wgt")
    val g2 = Graph(Graph.verticesOf(e), e)
    val got = g2.shortestPathsWeighted(Seq("d"), "wgt", maxHops = 6).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      ("d", "d") -> 0L, ("c", "d") -> 1L, ("b", "d") -> 2L, ("a", "d") -> 3L))
    // with the hop budget too small for the cheap path, the direct
    // (cheapest parallel) edge wins instead
    val capped = g2.shortestPathsWeighted(Seq("d"), "wgt", maxHops = 1).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(capped(("a", "d")) === 7L)
    // brute-force cross-check on a random DAG-ish graph
    val rnd = new scala.util.Random(13)
    val redges = (0 until 60).map { _ =>
      val s = rnd.nextInt(12); val d = rnd.nextInt(12)
      (s.toString, d.toString, 1L + rnd.nextInt(9))
    }.toDF("src", "dst", "wgt")
    val rg = Graph(Graph.verticesOf(redges), redges)
    val rgot = rg.shortestPathsWeighted(Seq("0"), "wgt", maxHops = 5).collect()
      .map(r => (r.getString(0), r.getLong(2))).toMap
    // reference: DP over ≤5-hop paths in plain Scala
    val es = redges.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    var dp = Map("0" -> 0L)
    var best = dp
    for (_ <- 1 to 5) {
      val stepped = es.flatMap { case (s, d, w) => dp.get(d).map(v => s -> (v + w)) }
      dp = (dp.toSeq ++ stepped).groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      best = dp
    }
    assert(rgot === best)
  }

  test("shortestPaths deep loop (maxHops > LazyHopLimit): checkpointed path matches brute force") {
    import spark.implicits._
    assert(Graph.LazyHopLimit < 12) // the test must actually take the deep branch
    // chain 0→1→…→13 plus a shortcut 2→11: distances TO landmark "13"
    val chain = (0 until 13).map(i => (i.toString, (i + 1).toString, 1L))
    val e = (chain :+ (("2", "11", 1L))).toDF("src", "dst", "wgt")
    val dg = Graph(Graph.verticesOf(e), e)
    val got = dg.shortestPaths(Seq("13"), maxHops = 12).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    // brute force: BFS on the reversed adjacency in plain Scala
    val rev = (chain :+ (("2", "11", 1L))).groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    var frontier = Set("13"); var dist = Map("13" -> 0L)
    for (hop <- 1L to 12L) {
      frontier = frontier.flatMap(v => rev.getOrElse(v, Nil)).filterNot(dist.contains)
      dist ++= frontier.map(_ -> hop)
    }
    assert(got === dist) // the 2→11 shortcut makes "0" reach in 5 hops, not 13
    // and the weighted twin through the same deep branch agrees with min-plus DP
    val wgot = dg.shortestPathsWeighted(Seq("13"), "wgt", maxHops = 12).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val es = (chain :+ (("2", "11", 1L)))
    var dp = Map("13" -> 0L)
    for (_ <- 1 to 12) {
      val stepped = es.flatMap { case (s, d, w) => dp.get(d).map(v => s -> (v + w)) }
      dp = (dp.toSeq ++ stepped).groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    }
    assert(wgot === dp)
  }

  test("scc: cycle is one component, pendants and one-way pairs are singletons") {
    // fixture g: directed cycle a→b→c→a, pendant c→d, one-way e→f, isolated g
    val got = g.stronglyConnectedComponents().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map(
      "a" -> "a", "b" -> "a", "c" -> "a", // the directed cycle
      "d" -> "d", "e" -> "e", "f" -> "f", "g" -> "g"))
  }

  test("scc: two cycles joined by a bridge stay separate components") {
    // coloring alone would paint {c,d} with a's color (a reaches them);
    // the backward confirmation pass must split them into a second round
    val e = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "d"), ("d", "c"))
      .toDF("src", "dst")
    val want = Map("a" -> "a", "b" -> "a", "c" -> "c", "d" -> "c")
    val g2 = Graph(Graph.verticesOf(e), e)
    val got = g2.stronglyConnectedComponents()
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === want)
    // forced DISTRIBUTED regime must agree (localEdgeThreshold = 0)
    val dist = g2.stronglyConnectedComponents(localEdgeThreshold = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dist === want)
  }

  test("scc: DAG chain trims to all singletons; self-loop is a singleton") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "x")).toDF("src", "dst")
    val got = Graph(Graph.verticesOf(e), e).stronglyConnectedComponents()
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("a" -> "a", "b" -> "b", "c" -> "c", "d" -> "d", "x" -> "x"))
  }

  test("scc: matches brute-force mutual reachability on random graphs") {
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 3) {
      val n = 10
      val es = (0 until 25).map { _ =>
        (rnd.nextInt(n).toString, rnd.nextInt(n).toString)
      }.distinct
      val edf = es.toDF("src", "dst")
      val gT = Graph(Graph.verticesOf(edf), edf)
      val got = gT.stronglyConnectedComponents()
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      // both regimes against the same spec: local Tarjan (default
      // threshold) above; forced distributed peel here
      val gotDist = gT.stronglyConnectedComponents(localEdgeThreshold = 0L)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(gotDist === got, s"trial $trial regimes disagree edges=$es")
      // Floyd-Warshall reachability, then component = min of the mutual set
      val vs = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val idx = vs.zipWithIndex.toMap
      val reach = Array.fill(vs.size, vs.size)(false)
      es.foreach { case (s, d) => reach(idx(s))(idx(d)) = true }
      for (k <- vs.indices; i <- vs.indices; j <- vs.indices)
        if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
      val want = vs.map { v =>
        val i = idx(v)
        val mutual = vs.filter(u => reach(i)(idx(u)) && reach(idx(u))(i))
        v -> (mutual :+ v).min
      }.toMap
      assert(got === want, s"trial $trial edges=$es")
    }
  }

  test("deterministicWalks: equal to a local replay of the md5-pick rule; sinks stop") {
    // b is a sink (no outgoing edges) so its walk must stop at hop 1 max
    val e = Seq(("a", "b", 1.0, "W"), ("a", "c", 1.0, "W"), ("c", "a", 1.0, "W"),
      ("c", "b", 1.0, "W")).toDF("src", "dst", "w", "type")
    val gw = Graph(Graph.verticesOf(e), e)
    val maxLen = 3
    val got = gw.deterministicWalks(maxLen).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    // local replay: same 60-bit md5 prefix, same dst-sorted adjacency
    val adj = Map("a" -> Seq("b", "c"), "c" -> Seq("a", "b"))
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val want = Seq("a", "b", "c").map { v =>
      var cur = v; val path = scala.collection.mutable.ArrayBuffer(v)
      for (i <- 1 to maxLen) adj.get(cur).foreach { ns =>
        cur = ns((h60(s"$v|$i") % ns.size).toInt); path += cur
      }
      v -> path.toSeq
    }.toMap
    assert(got === want)
    assert(got("b") === Seq("b")) // sink: path never grows
    // every consecutive pair in every walk is a real edge
    val edgeSet = Set(("a", "b"), ("a", "c"), ("c", "a"), ("c", "b"))
    got.values.foreach(p => p.sliding(2).filter(_.size == 2)
      .foreach(st => assert(edgeSet.contains((st(0), st(1))), s"walk $p")))
    // repartition-invariant
    val got2 = Graph(gw.vertices.repartition(5), gw.edges.repartition(3))
      .deterministicWalks(maxLen).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(got2 === got)
  }

  test("diameterLowerBound: exact on a path graph, regardless of edge direction") {
    // path a-b-c-d-e stored with mixed directions: double sweep on the
    // underlying undirected graph must find the true diameter 4 with
    // endpoints a (min id seed never matters for correctness) and e
    val e = Seq(("b", "a"), ("b", "c"), ("d", "c"), ("d", "e"))
      .map { case (s0, d0) => (s0, d0, 1.0, "W") }.toDF("src", "dst", "w", "type")
    val g = Graph(Graph.verticesOf(e), e)
    val r = g.diameterLowerBound(maxHops = 8).head()
    assert(r.getAs[String]("start_id") === "a")
    assert(r.getAs[String]("peripheral_id") === "e")
    assert(r.getAs[Long]("diameter_lb") === 4L)
    assert(r.getAs[Long]("n_reached") === 5L)
    // star graph: diameter 2, peripheral = smallest leaf by tie-break
    val star = (1 to 5).map(i => ("hub", s"l$i", 1.0, "W"))
      .toDF("src", "dst", "w", "type")
    val g2 = Graph(Graph.verticesOf(star), star)
    val r2 = g2.diameterLowerBound(maxHops = 8).head()
    assert(r2.getAs[Long]("diameter_lb") === 2L)
    assert(r2.getAs[Long]("n_reached") === 6L)
  }

  test("stressCentrality: exact path counts through each on-path vertex") {
    // a-{p,q}-m-d: two shortest a→d paths, both through m — σ_a(m)=2 so
    // through(m)=2; p and q carry one path each; the 4-hop decoy
    // x-y-z never reaches a shortest (3-hop) path
    val e = Seq(("a", "p"), ("a", "q"), ("p", "m"), ("q", "m"), ("m", "d"),
      ("a", "x"), ("x", "y"), ("y", "z"), ("z", "d"))
      .map { case (s0, d0) => (s0, d0, 1.0, "W") }.toDF("src", "dst", "w", "type")
    val g = Graph(Graph.verticesOf(e), e)
    val got = g.stressCentrality("a", "d", maxHops = 6).collect()
      .map(r => r.getAs[String]("id") ->
        ((r.getAs[Long]("ds"), r.getAs[Long]("dt"), r.getAs[Long]("sig_s"),
          r.getAs[Long]("sig_t"), r.getAs[Long]("through")))).toMap
    assert(got === Map(
      "p" -> ((1L, 2L, 1L, 1L, 1L)),
      "q" -> ((1L, 2L, 1L, 1L, 1L)),
      "m" -> ((2L, 1L, 2L, 1L, 2L))))
    // unreachable landmark fails loudly, not silently empty
    val e2 = Seq(("a", "b"), ("c", "d"))
      .map { case (s0, d0) => (s0, d0, 1.0, "W") }.toDF("src", "dst", "w", "type")
    val g2 = Graph(Graph.verticesOf(e2), e2)
    val ex = intercept[IllegalArgumentException](g2.stressCentrality("a", "d"))
    assert(ex.getMessage.contains("not reachable"))
    GraftStorage.clear(spark)
  }

  test("stressCentrality: matches local BFS path counting on random graphs") {
    val rng = new scala.util.Random(17)
    for (trial <- 1 to 3) {
      val n = 14
      val edges0 = (for {
        a <- 0 until n; b <- 0 until n
        if a < b && rng.nextDouble() < 0.22
      } yield (s"v$a", s"v$b")).toSeq
      if (edges0.nonEmpty) {
        val e = edges0.map { case (s0, d0) => (s0, d0, 1.0, "W") }
          .toDF("src", "dst", "w", "type")
        val g = Graph(Graph.verticesOf(e), e)
        // local truth: level-synchronous BFS with sigma from a root
        def bfs(root: String): Map[String, (Long, Long)] = {
          val adj = (edges0 ++ edges0.map(_.swap)).groupBy(_._1)
            .map { case (k, vs) => k -> vs.map(_._2).toSet }
          var res = Map(root -> ((0L, 1L)))
          var frontier = Set(root)
          var d = 0L
          while (frontier.nonEmpty) {
            d += 1
            val next = scala.collection.mutable.Map.empty[String, Long]
            frontier.foreach { v =>
              adj.getOrElse(v, Set.empty).filterNot(res.contains).foreach { w =>
                next(w) = next.getOrElse(w, 0L) + res(v)._2
              }
            }
            res = res ++ next.map { case (w, sig) => w -> ((d, sig)) }
            frontier = next.keySet.toSet
          }
          res
        }
        val s0 = "v0"
        val fs = bfs(s0)
        if (fs.size > 1) {
          // the sweep pick: farthest from s, ties to smallest id
          val far = fs.toSeq.map { case (id, (d, _)) => (id, d) }
            .sortBy { case (id, d) => (-d, id) }.head._1
          val ft = bfs(far)
          val dst = fs(far)._1
          val want = fs.keys.filter(v => ft.contains(v) && v != s0 && v != far)
            .filter(v => fs(v)._1 + ft(v)._1 == dst)
            .map(v => v -> fs(v)._2 * ft(v)._2).toMap
          val got = g.stressCentrality(s0, far, maxHops = n).collect()
            .map(r => r.getAs[String]("id") -> r.getAs[Long]("through")).toMap
          assert(got === want, s"trial $trial (s=$s0, t=$far)")
        }
      }
      GraftStorage.clear(spark)
    }
  }

  test("temporal earliestArrival: matches a local DP on random contact logs") {
    val rng = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val contacts = (1 to 60).map { _ =>
        (rng.nextInt(8).toLong, s"E${rng.nextInt(5)}", (rng.nextInt(1000) + 1).toLong)
      }
      import org.apache.spark.sql.functions.{col, timestamp_micros}
      val df = contacts.toDF("actor", "ent", "t")
        .select(col("actor"), col("ent"), timestamp_micros(col("t")).as("ts"))
      val seeds = Seq(0L, 1L)
      val waves = 2
      // local truth: the same wave-synchronous earliest-arrival DP
      var arr = contacts.map(_._1).distinct.filter(seeds.contains).map(_ -> 0L).toMap
      for (_ <- 1 to waves) {
        val eArr = contacts.groupBy(_._2).flatMap { case (ent, cs) =>
          val ts = cs.collect { case (u, _, t) if arr.get(u).exists(_ <= t) => t }
          if (ts.isEmpty) None else Some(ent -> ts.min)
        }
        val uNew = contacts.groupBy(_._1).flatMap { case (u, cs) =>
          val ts = cs.collect { case (_, ent, t) if eArr.get(ent).exists(_ <= t) => t }
          if (ts.isEmpty) None else Some(u -> ts.min)
        }
        arr = (arr.keySet ++ uNew.keySet).map { u =>
          u -> math.min(arr.getOrElse(u, Long.MaxValue), uNew.getOrElse(u, Long.MaxValue))
        }.toMap
      }
      val got = graft.graph.Temporal.earliestArrival(
          df, "actor", "ent", "ts", seeds = seeds, waves = waves)
        .collect().map(r => r.getAs[Long]("actor") -> r.getAs[Long]("arrival_us")).toMap
      assert(got === arr, s"trial $trial")
      GraftStorage.clear(spark)
    }
  }

  test("temporal earliestArrival: influence respects time order; static reach over-counts") {
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    def llog(rows: (Long, String, Long)*) =
      rows.toSeq.toDF("actor", "ent", "t")
        .select(col("actor"), col("ent"), timestamp_micros(col("t")).as("ts"))
    // b touched E1 BEFORE the seed's contact: a static projection links
    // a-b via E1, but no time-respecting path exists
    val noPath = llog((1L, "E1", 10L), (2L, "E1", 5L))
    val r1 = graft.graph.Temporal.earliestArrival(
        noPath, "actor", "ent", "ts", seeds = Seq(1L), waves = 2)
      .collect().map(r => r.getAs[Long]("actor") -> r.getAs[Long]("arrival_us")).toMap
    assert(r1 === Map(1L -> 0L))
    // chain with a valid ordering: 1 →(E1@10) 2@12 →(E2@20) 3@25;
    // 3's EARLIER E2 contact at 15 must not count (E2 infected at 20)
    val chain = llog((1L, "E1", 10L), (2L, "E1", 12L),
      (2L, "E2", 20L), (3L, "E2", 15L), (3L, "E2", 25L))
    val r2 = graft.graph.Temporal.earliestArrival(
        chain, "actor", "ent", "ts", seeds = Seq(1L), waves = 2)
      .collect().map(r => r.getAs[Long]("actor") -> r.getAs[Long]("arrival_us")).toMap
    assert(r2 === Map(1L -> 0L, 2L -> 12L, 3L -> 25L))
    // one wave cannot make the two-step hop
    val r3 = graft.graph.Temporal.earliestArrival(
        chain, "actor", "ent", "ts", seeds = Seq(1L), waves = 1)
      .collect().map(r => r.getAs[Long]("actor") -> r.getAs[Long]("arrival_us")).toMap
    assert(r3 === Map(1L -> 0L, 2L -> 12L))
    GraftStorage.clear(spark)
  }

  test("harmonicCentrality: reciprocal-distance sums; unreached landmarks contribute 0") {
    // directed path a→b→c, landmarks {a, c}: a reaches c at d=2 (H=0.5),
    // b reaches c at d=1 (H=1.0), c reaches only itself → no row (its
    // self-distance is excluded and 'a' is unreachable forward)
    val e = Seq(("a", "b"), ("b", "c"))
      .map { case (s0, d0) => (s0, d0, 1.0, "W") }.toDF("src", "dst", "w", "type")
    val g = Graph(Graph.verticesOf(e), e)
    val got = g.harmonicCentrality(Seq("a", "c"), maxHops = 4).collect()
      .map(r => r.getAs[String]("id") ->
        ((r.getAs[Long]("n_reached"), r.getAs[Double]("harmonic")))).toMap
    assert(got === Map("a" -> ((1L, 0.5)), "b" -> ((1L, 1.0))))
    GraftStorage.clear(spark)
  }

  test("resourceAllocation: exact fixed-point score on a co-hub pair, no per-pair array") {
    // x and y are NOT adjacent but share hubs h1 (degree 3: x, y, z),
    // h2 and h3 (degree 2 each): RA(x,y) = 1/3 + 1/2 + 1/2 computed as
    // (10^15 div 3 + 10^15 div 2 + 10^15 div 2) / 1e15 — the exact
    // integer fixed-point contract that replays in DuckDB with `//`
    val e = Seq(
      ("x", "h1"), ("y", "h1"), ("h1", "z"),
      ("x", "h2"), ("y", "h2"),
      ("x", "h3"), ("h3", "y")) // one reversed edge: direction ignored
      .map { case (s0, d0) => (s0, d0, 1.0, "W") }.toDF("src", "dst", "w", "type")
    val g = Graph(Graph.verticesOf(e), e)
    val ra = g.resourceAllocation(minCommon = 2L)
    // the fix's whole point: no unbounded per-pair collect_list in the plan
    assert(!ra.queryExecution.optimizedPlan.toString.contains("collect_list"),
      "RA plan regressed to a per-pair degree array")
    val rows = ra.collect().map(r => (r.getAs[String]("a"), r.getAs[String]("b")) ->
      (r.getAs[Long]("common"), r.getAs[Double]("ra_score"))).toMap
    val fp = 1000000000000000L
    val want = (fp / 3 + fp / 2 + fp / 2).toDouble / 1e15
    assert(rows(("x", "y")) === ((3L, want)))
    // hub pairs share wedge centers x (deg 3) and y (deg 3): 2 · (fp div 3)
    val hubWant = (2 * (fp / 3)).toDouble / 1e15
    assert(rows(("h1", "h2")) === ((2L, hubWant)))
    // existing edges never appear, sub-support pairs filtered
    assert(!rows.contains(("h1", "x")) && !rows.contains(("x", "z")))
    GraftStorage.clear(spark)
  }

  test("walk family: maxDegree caps a synthetic hub's adjacency to the dst-sorted prefix") {
    // hub h has 50 out-neighbors; with maxDegree=5 every pick must land
    // in the 5 smallest dsts (n00..n04) and the walk must equal a local
    // replay over the SLICED adjacency — proving the truncation is the
    // deterministic sorted prefix, not an arbitrary subset
    val ns = (0 until 50).map(i => f"n$i%02d")
    val e = (ns.map(n => ("h", n, 1.0, "W")) ++ ns.map(n => (n, "h", 2.0, "W")))
      .toDF("src", "dst", "w", "type")
    val g = Graph(Graph.verticesOf(e), e)
    val cap = 5
    val retained = ns.sorted.take(cap)
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val got = g.deterministicWalks(6, maxDegree = cap).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    // all hub-outgoing steps land inside the retained prefix
    got.values.foreach(p => p.sliding(2).filter(_.size == 2).foreach { st =>
      if (st(0) == "h") assert(retained.contains(st(1)), s"uncapped pick in $p")
    })
    // exact local replay over the sliced adjacency
    val adj = Map("h" -> retained) ++ ns.map(_ -> Seq("h")).toMap
    val want = ("h" +: ns).map { v =>
      var cur = v; val path = scala.collection.mutable.ArrayBuffer(v)
      for (i <- 1 to 6) adj.get(cur).foreach { nb =>
        cur = nb((h60(s"$v|$i") % nb.size).toInt); path += cur
      }
      v -> path.toSeq
    }.toMap
    assert(got === want)
    // weighted + node2vec variants honor the same cap
    val gotW = g.weightedDeterministicWalks(4, maxDegree = cap).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    gotW.values.foreach(p => p.sliding(2).filter(_.size == 2).foreach { st =>
      if (st(0) == "h") assert(retained.contains(st(1)), s"weighted uncapped in $p")
    })
    val gotN = g.node2vecWalks(4, maxDegree = cap).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    gotN.values.foreach(p => p.sliding(2).filter(_.size == 2).foreach { st =>
      if (st(0) == "h") assert(retained.contains(st(1)), s"node2vec uncapped in $p")
    })
  }

  test("weightedDeterministicWalks: draws proportional to weight, local replay agrees") {
    // a's neighbors: b (w=3, residues 0-2), c (w=1, residue 3);
    // z has only a zero-weight edge -> owns no residues, walk stops
    val e = Seq(("a", "b", 3.0, "W"), ("a", "c", 1.0, "W"), ("b", "a", 2.0, "W"),
      ("c", "a", 1.0, "W"), ("z", "a", 0.0, "W")).toDF("src", "dst", "w", "type")
    val gw = Graph(Graph.verticesOf(e), e)
    val maxLen = 4
    val got = gw.weightedDeterministicWalks(maxLen).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    // local replay over cumulative dst-sorted adjacency
    val adj = Map("a" -> Seq(("b", 3L), ("c", 4L)), "b" -> Seq(("a", 2L)),
      "c" -> Seq(("a", 1L)))
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val want = Seq("a", "b", "c", "z").map { v =>
      var cur = v; val path = scala.collection.mutable.ArrayBuffer(v)
      for (i <- 1 to maxLen) adj.get(cur).foreach { ns =>
        val draw = h60(s"$v|$i") % ns.last._2
        cur = ns.find(_._2 > draw).get._1; path += cur
      }
      v -> path.toSeq
    }.toMap
    assert(got === want)
    assert(got("z") === Seq("z")) // zero-weight-only vertex is a sink
    // weight monotonicity over the draw space: enumerate draws 0..3 —
    // b owns exactly 3 residues, c exactly 1 (the ∝-weight contract)
    assert((0L until 4L).map(d => adj("a").find(_._2 > d).get._1)
      === Seq("b", "b", "b", "c"))
    // repartition-invariant
    val got2 = Graph(gw.vertices.repartition(5), gw.edges.repartition(3))
      .weightedDeterministicWalks(maxLen).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(got2 === got)
  }

  test("kTruss: triangle survives 3-truss, pendant peeled; shared-edge cascade empties at k=4") {
    def und(pairs: (String, String)*) =
      pairs.flatMap { case (a, b) => Seq((a, b, 1.0, "W"), (b, a, 1.0, "W")) }
        .toDF("src", "dst", "w", "type")
    // triangle a-b-c with pendant edge c-d: 3-truss keeps the triangle
    // (each edge in 1 triangle), peels c-d
    val g1 = Graph(Graph.verticesOf(und(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"))),
      und(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")))
    val t3 = g1.kTruss(3).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(t3 === Map(("a", "b") -> 1L, ("a", "c") -> 1L, ("b", "c") -> 1L))
    // two triangles sharing edge a-b: at k=4 only a-b has support 2, but
    // removing the others cascades its support to 0 -> empty 4-truss
    val e2 = und(("a", "b"), ("a", "c"), ("b", "c"), ("a", "d"), ("b", "d"))
    val t4 = Graph(Graph.verticesOf(e2), e2).kTruss(4).collect()
    assert(t4.isEmpty)
    // K4 is a 4-truss: every edge in exactly 2 triangles
    val k4 = und(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"))
    val tk4 = Graph(Graph.verticesOf(k4), k4).kTruss(4).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(tk4.size === 6 && tk4.values.forall(_ === 2L))
  }

  test("node2vecWalks: local replay of the second-order rule; extreme return bias ping-pongs") {
    // triangle a-b-c plus pendant a-d: from b after a, "a" is return,
    // "c" is common (a's neighbor), others are out
    val e = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("a", "c"),
      ("c", "a"), ("a", "d"), ("d", "a"))
      .map { case (s0, d0) => (s0, d0, 1.0, "W") }.toDF("src", "dst", "w", "type")
    val g = Graph(Graph.verticesOf(e), e)
    val (wr, wc, wo) = (1L, 4L, 2L)
    val got = g.node2vecWalks(4, wr, wc, wo).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    // local replay
    val adj = Map("a" -> Seq("b", "c", "d"), "b" -> Seq("a", "c"),
      "c" -> Seq("a", "b"), "d" -> Seq("a"))
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    def wOf(n: String, prev: Option[String]): Long = prev match {
      case Some(p) if n == p => wr
      case Some(p) if adj.get(p).exists(_.contains(n)) => wc
      case _ => wo
    }
    val want = adj.keys.toSeq.sorted.map { v =>
      var cur = v; var prev: Option[String] = None
      val path = scala.collection.mutable.ArrayBuffer(v)
      for (i <- 1 to 4) adj.get(cur).foreach { ns =>
        val ws = ns.map(wOf(_, prev))
        val draw = h60(s"$v|$i") % ws.sum
        val cums = ws.scanLeft(0L)(_ + _).tail
        val nxt = ns(cums.indexWhere(_ > draw))
        prev = Some(cur); cur = nxt; path += nxt
      }
      v -> path.toSeq
    }.toMap
    assert(got === want)
    // extreme return bias: after the first step the walk ping-pongs
    val pp = Graph(Graph.verticesOf(e), e)
      .node2vecWalks(4, wReturn = 1000000L, wCommon = 1L, wOut = 1L)
      .collect().map(r => r.getSeq[String](1)).filter(_.length == 5)
    assert(pp.nonEmpty)
    pp.foreach(p => assert(p(0) == p(2) && p(1) == p(3), s"no ping-pong: $p"))
  }

  test("skipGramPairs: window-bounded, direction-counted, never crosses walks") {
    val walks = Seq(("w1", Seq("a", "b", "c", "d")), ("w2", Seq("a", "x")))
      .toDF("walk_id", "path")
    val got = Graph.skipGramPairs(walks, window = 2).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // local oracle: all ordered pairs with 1 <= |i-j| <= 2 within a walk
    val want = Seq(Seq("a", "b", "c", "d"), Seq("a", "x")).flatMap { p =>
      for (i <- p.indices; j <- p.indices
           if i != j && math.abs(i - j) <= 2) yield (p(i), p(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got === want)
    assert(!got.contains(("d", "x"))) // no cross-walk pair
    assert(got(("a", "c")) === 1L)
    assert(!got.contains(("a", "d"))) // |Δpos| = 3 > window
  }
}
