package graft.ops

import graft.GraftStorage.Syntax
import graft.graph.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 2-hop neighbourhood extraction (reference `extractNeighbours`,
  * `RetweetTagsJaccardGraph.py:252-276`).
  *
  * The reference `collect()`s the 1-hop edges to the driver, string-builds
  * an IN-list, and re-filters — executor→driver→executor, plus a SQL
  * injection hazard. Rewritten fully distributed: the frontier is a
  * DataFrame, membership is a broadcast left-semi join (a 2-hop frontier
  * is tiny next to the graph, so the broadcast is the right plan at any
  * scale; no driver round-trip, no interpolated SQL).
  *
  * Reference quirks preserved (SURVEY.md G4):
  *   - the frontier expands through `dst` endpoints only (`:267-268`);
  *   - HT edges are excluded from frontier expansion but INCLUDED in the
  *     final edge filter (`:267` vs `:271-272`);
  *   - the seed id is always in the frontier (`:265`);
  *   - vertices are re-derived from the surviving edges (`:274-276`).
  *
  * The 2-hop edge set is cached once: [[Graph.save]] writes the edges and
  * then the vertices derived from them, and without the cache each of the
  * two writes would recompute the joins and everything under them.
  */
object Neighbours {

  def extract(g: Graph, id: String): Graph = {
    val oneHop = g.edges.filter(col("src") === id || col("dst") === id)
    val frontier = oneHop
      .filter(col("type") =!= "HT")
      .select(col("dst").as("nid"))
      .union(g.edges.sparkSession.createDataFrame(Seq(Tuple1(id))).toDF("nid"))
      .distinct()

    // OR-membership via two broadcast left joins + null-marker filter:
    // no nested-loop join, no union that doubles the edge stream, no
    // dedup shuffle — and edge multiplicity is preserved exactly like the
    // reference's filterEdges. The frontier side is broadcast — it is
    // bounded by the 1-hop out-degree.
    val fSrc = broadcast(frontier.select(col("nid").as("__nid_src")))
    val fDst = broadcast(frontier.select(col("nid").as("__nid_dst")))
    val edges2 = g.edges
      .join(fSrc, col("src") === col("__nid_src"), "left")
      .join(fDst, col("dst") === col("__nid_dst"), "left")
      .filter(col("__nid_src").isNotNull || col("__nid_dst").isNotNull)
      .drop("__nid_src", "__nid_dst")
      .persistTracked()

    Graph(Graph.verticesOf(edges2), edges2)
  }
}
