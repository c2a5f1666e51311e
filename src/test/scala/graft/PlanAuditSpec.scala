package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Scan-shape regressions on representative catalog plans: column pruning
  * and filter pushdown must reach the parquet scans. The catalog-wide plan
  * contracts (the SCALE.md §4 nested-loop whitelist and the global-window
  * whitelist) are checked in [[CatalogSweepSpec]] on the same initial
  * (pre-AQE) physical plan that [[PlanAuditSpec.initialPlanNodes]] walks.
  */
class PlanAuditSpec extends SparkTestBase {
  import PlanAuditSpec.initialPlanNodes

  test("representative scans prune columns and push filters to parquet") {
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory)
    def scans(name: String): Seq[(String, Set[String], String)] =
      initialPlanNodes(SparkEntry.queries(name)(spark, sfDir)).collect { case s: FileSourceScanExec =>
        (s.relation.location.rootPaths.headOption
          .map(_.getName.stripSuffix(".parquet")).getOrElse("?"),
          s.requiredSchema.fieldNames.toSet,
          s.metadata.getOrElse("PushedFilters", "[]"))
      }
    // TPC-H Q3 shape: an 11-column lineitem must reach the scan as 4
    // columns with the shipdate range pushed; orders/customer likewise.
    // A regression here (a projection or filter stuck above the scan)
    // multiplies IO by the full table width at 100 TB.
    val q3 = scans("q_tpch_q3")
    val li = q3.find(_._1 == "lineitem").get
    assert(li._2 === Set("l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"),
      s"lineitem scan reads ${li._2}")
    assert(li._3.contains("l_shipdate"), s"no pushed shipdate filter: ${li._3}")
    val ord = q3.find(_._1 == "orders").get
    assert(ord._2.size <= 4 && ord._3.contains("o_orderdate"),
      s"orders scan: cols=${ord._2} pushed=${ord._3}")
    val cust = q3.find(_._1 == "customer").get
    assert(cust._2 === Set("c_custkey", "c_mktsegment") && cust._3.contains("c_mktsegment"),
      s"customer scan: cols=${cust._2} pushed=${cust._3}")
    // events goes through Tables.normalizeTs (a withColumn over the scan):
    // pruning must still reach the parquet scan through the projection
    val agg = scans("q_agg_distinct")
    val ev = agg.find(_._1 == "events").get
    assert(ev._2 === Set("event_type", "user_id"), s"events scan reads ${ev._2}")
    // embeddings: ANN top-k must not drag the label column through the scan
    val ann = scans("q_ann_topk")
    val emb = ann.find(_._1 == "embeddings").get
    assert(!emb._2.contains("label"), s"embeddings scan reads ${emb._2}")
  }
}

object PlanAuditSpec {

  private def collectAll(p: SparkPlan): Seq[SparkPlan] =
    p +: (p.children ++ p.subqueries).flatMap {
      case a: AdaptiveSparkPlanExec => collectAll(a.executedPlan)
      case c => collectAll(c)
    }

  /** Every node of `df`'s initial (pre-AQE) physical plan, subqueries and
    * nested adaptive plans included. Plans without executing `df`.
    */
  def initialPlanNodes(df: Dataset[_]): Seq[SparkPlan] =
    collectAll(df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    })
}
