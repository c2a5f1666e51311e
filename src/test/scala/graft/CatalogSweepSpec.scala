package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import scala.util.control.NonFatal

/** The four catalog-wide contracts, checked on ONE run of every catalog
  * row at sf0.001 instead of one sweep per contract. Each row is built
  * and executed at 3 shuffle partitions, then again at 7; the tests below
  * assert on what the sweep recorded:
  *
  *   - determinism: the two runs return the IDENTICAL result set. This is
  *     the property the whole DuckDB-oracle scheme rests on — each query's
  *     scaladoc argues it locally (decimal-exact sums, integer-ratio
  *     doubles, md5 draws, total-order tie-breaks); the sweep stops
  *     trusting the argument. A failure means a nondeterministic
  *     aggregate order leaked into a float, a window lacks a total-order
  *     tie-break, or a limit rides an unordered relation — the bug class
  *     that passes a single-run oracle compare by luck and flips at 100 TB;
  *   - owning cleanup: after each consume, `GraftStorage.clear` leaves no
  *     persisted RDD and an empty cacheManager (library entry points
  *     persist hub relations their lazy results reference, so only the
  *     caller can release them — this catches every leak of that kind:
  *     Dedup ranked hubs, LSH keys, BPE vocab, k-means assignments);
  *   - the SCALE.md §4 nested-loop whitelist: no non-equi join
  *     (BroadcastNestedLoopJoin / CartesianProduct) outside the documented
  *     intentional set;
  *   - the global-window whitelist: no unpartitioned window outside the
  *     documented bounded-relation set.
  *
  * Plan facts come from the 3-partition build's initial (pre-AQE)
  * physical plan, read before the consume — join selection and window
  * partitioning depend only on statistics and hints, not row counts at
  * this scale. A row that throws is recorded with its exception and left
  * out of the four contracts; the fifth test lists every such row.
  */
class CatalogSweepSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  /** Must match SCALE.md §4 — change BOTH or neither. */
  private val nestedLoopWhitelist = Set(
    "q_ann_cosine", "q_ann_topk",        // broadcast(seed queries) ⨝ corpus
    "q_ann_quantized",                   // same shape, int8-quantized vectors
    "q_ann_ivf", "q_ann_ivf_probe", "q_ann_ivf_trained", // k-row centroid cross join
    "q_ann_pq", "q_ann_pq_trained",      // broadcast(seed queries) ⨝ code scan (ADC)
    "q_hybrid_rrf",                      // dense arm = broadcast(seeds) ⨝ corpus (q_ann_cosine shape)
    "q_ann_ivfpq",                       // k-row centroid cross join; search is cell-equi
    "q_tfidf_top_terms", "q_bm25_top_terms", "q_token_rarity",
    "q_window_anomaly",                  // 1-row stats broadcast
    "q_assoc_rules",                     // 1-row basket-total broadcast
    "q_sketch_hist_quantile",
    "q_hist_quantile_by_source",
    "q_winsorize_stats",                 // quantile list × bin-sized sketch
    "q_bloom_join",                      // 1-row packed-bitmap broadcast
    "q_mix_plan",                        // two 1-row total broadcasts (waterfill)
    "q_mix_anneal",                      // the same two broadcasts × 3 phases
    "q_mix_temperature",                 // 1-row Σ√cnt total broadcast
    "q_graph_modularity",                // 1-row edge-count m broadcast
    "q_bpe_merge",                       // 1-row argmax-pair broadcast
    "q_cooccur_lift",                    // 1-row corpus-count broadcast (×2)
    "q_vocab_coverage",                  // 1-row token-total broadcast
    "q_lsh_recall",                      // 1-row truth-total broadcast
    "q_lsh_recall_predicted",            // same + the fixed-point S-curve sums
                                         // ride the same 1-row broadcast
    "q_graph_hits",                      // 1-row half-step max broadcast (×2/iter)
    "q_dsir_weights", "q_dsir_select",   // 1-row model-totals broadcast
    "q_heavy_hitters",                   // 1-row corpus-total broadcast
    "q_sketch_join_size",                // 1-row estimate × 1-row exact audit
    "q_sketch_selectivity",              // 1-row estimate × 1-row exact audit
    "q_dq_benford",                      // 1-row digit-total broadcast
    "q_negative_samples",                // 1-row cumulative-vocab-array broadcast
    "q_tpch_q22",                        // 1-row balance-gate broadcast
                                         // (bal·cnt > sum exact-decimal compare)
    "q_tpch_q11",                        // 1-row mean-value-gate broadcast
                                         // (pval·np·10 > total·12 compare)
    "q_sketch_kmv_pairs",                // sketch relation × itself (groups²,
                                         // k-sized arrays — never data-sized)
    "q_sketch_kmv_containment",          // same sketch self-join, directed
    "q_vocab_growth",                    // 5-row checkpoint relation broadcast
                                         // (first_doc < cp range predicate)
    "q_sparse_cosine",                   // 1-row n_docs broadcast (df cap +
                                         // integer idf weights)
    "q_lm_interpolated",                 // 1-row token-total broadcast (the
                                         // unigram interpolation term)
    "q_ann_recall_auto",                 // broadcast(50 anchors) ⨝ corpus —
                                         // the q_ann_cosine truth shape
    // NOTE: q_ann_recall_escalate / q_dedup_embed_recall_escalate left
    // the whitelist in r12 — the monotone gate keeps the capped LSH
    // there (equi-joins only); the escalations that DO fire are the
    // *_wins/*_measured rows below
    "q_ann_recall_ivf",                  // centroid cross join + broadcast
                                         // (50 anchors) ⨝ corpus truth side
    "q_ann_recall_ivf_probe",            // same shapes, nprobe=2 probe ranking
    "q_ann_recall_ivf_trained",          // same shapes + the refined k-row
                                         // centroid cross join
    "q_ann_recall_ivf_clustered",        // the clustered-regime audit triple:
    "q_ann_recall_ivf_clustered_probe",  // same centroid cross join + anchor
    "q_ann_recall_ivf_clustered_trained", // truth shapes over the derived corpus
    "q_ann_recall_ivf_clustered_cells16", // the cells-to-cluster-count lever —
                                         // same shapes at 16 fixed cells
    "q_ann_escalate_wins",               // escalated multi-probe graph: k-row
                                         // centroid cross joins (assign + probes)
    "q_ann_escalate_measured",           // same, on the clustered corpus
    "q_ann_ivf_probe_auto",              // the auto-sized multi-probe twin —
                                         // same centroid cross joins
    "q_ann_recall_probe_auto",           // its audit: same + anchor truth side
    "q_dedup_embed_escalate_wins",       // the multi-probe PAIR join's
                                         // centroid cross joins
    "q_ann_escalate_sampled",            // the sampled gate's escalated
                                         // multi-probe graph: same k-row
                                         // centroid cross joins (the shard
                                         // audit runs eagerly in the gate,
                                         // not in the returned plan)
    "q_ann_escalate_threshold_audit",    // escalated pairs' centroid cross
                                         // joins + broadcast(50 anchors)
                                         // ⨝ corpus truth side
    "q_ann_recall_pq",                   // broadcast(50 anchors) ⨝ code scan
                                         // (ADC) + the same anchors ⨝ corpus
                                         // exact-integer truth side
    "q_ann_recall_pq_trained",           // same shapes, trained codebook
    "q_ann_recall_ivfpq",                // same + the k-row centroid cross
                                         // join (coarse assignment)
    "q_ann_recall_ivf_hier",             // broadcast(50 anchors) ⨝ corpus
                                         // truth side ONLY — the hier index
                                         // itself is all equi-joins (sign-
                                         // pattern cells, no centroid scoring)
    "q_pipeline_e2e")                    // the embedded mix plan's two 1-row
                                         // waterfill broadcasts (q_mix_plan)

  /** Queries whose plans legitimately contain an UNPARTITIONED window —
    * each one runs over a relation bounded by something other than the
    * corpus (sketch bins, vocabulary, survivors, per-doc weights at
    * demo scale), documented here so a future edit that moves a global
    * window onto a corpus-sized relation fails this test instead of
    * becoming a single-task sort at 100×.
    */
  private val globalWindowWhitelist = Set(
    "q_skyline",            // merge rank over bucket-local frontier SURVIVORS
    "q_vocab_coverage",     // rank over the vocabulary relation (Heaps-sublinear)
    "q_select_budget",      // offsets window over the 64-bucket histogram
    "q_quantile_buckets", "q_hist_quantile_by_source", "q_winsorize_stats",
    "q_sketch_hist_quantile", // cumulative windows over bin-sized sketches
    "q_quality_deciles",    // same histBucketize bin-sized cumulative window
    "q_dsir_select",        // rank over the k TakeOrderedAndProject survivors
    "q_bpe_merge", "q_bpe_pairs", "q_bpe_encode", // argmax/rank over the pair
                            // vocabulary (≤ |vocab|², sketch-sized)
    "q_sql_recursive",      // row_number over the per-key day ROLLUP (30 rows/key)
    "q_kmeans", "q_dedup_semantic", "q_dedup_semantic_survivors",
    "q_sample_diverse", "q_ann_ivf_trained", "q_ann_ivfpq", "q_ann_pq_trained",
                            // k-row seed-centroid pick (ORDER BY vec_id LIMIT k
                            // plans as a bounded global sort at demo scale;
                            // production seeds documented as literals)
    "q_global_ids", "q_bitmap_index", "q_bitmap_and", // Ids.contiguous: the
                            // window runs over PER-PARTITION COUNTS (one row
                            // per partition), never rows
    "q_chisq",              // totals window over the ≤ R·C contingency cells
    "q_negative_samples")   // cumsum over the vocabulary relation (q_vocab_coverage contract)

  /** What one catalog row did in the sweep. */
  private case class RowRecord(
      nestedLoops: Seq[String],  // BNLJ / cartesian node names, initial plan
      globalWindows: Int,        // unpartitioned window nodes, initial plan
      leaks: Map[String, String], // blocks left pinned after consume + clear
      deterministic: Boolean)    // same rows at 3 and 7 partitions

  private case class Sweep(rows: Map[String, RowRecord], failed: Map[String, String])

  /** One build and consume of `df`: its initial (pre-AQE) plan nodes, read
    * before the consume; its rows in a partition-order-free canonical form
    * (sorted JSON — same JVM, same values → same strings; every column is
    * evaluated, as `Bench.consume` does); and whatever stays pinned after
    * `GraftStorage.clear`. The JSON plan wraps `df`'s plan, so it is
    * planned once.
    */
  private def consumeAndClear(name: String, df: DataFrame)
      : (Seq[SparkPlan], Seq[String], Map[String, String]) = {
    val json = df.toJSON
    val nodes = PlanAuditSpec.initialPlanNodes(json)
    val rows = json.collect().toSeq.sorted
    GraftStorage.clear(spark)
    (nodes, rows, leftPinned(name))
  }

  /** Blocks still pinned after `name` ran. A leak is released before the
    * next row so that row is neither blamed for it nor planned against
    * its cache.
    */
  private def leftPinned(name: String): Map[String, String] = {
    val rdds = spark.sparkContext.getPersistentRDDs.values.map(_.name)
    val leaks = Seq(
      Option.when(rdds.nonEmpty)(name -> rdds.mkString(",")),
      Option.when(!spark.sharedState.cacheManager.isEmpty)(
        s"$name(cacheManager)" -> "untracked Dataset.persist")).flatten.toMap
    if (leaks.nonEmpty) {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    leaks
  }

  private lazy val sweep: Sweep = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val rows = Map.newBuilder[String, RowRecord]
    val failed = Map.newBuilder[String, String]
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        try {
          spark.conf.set(key, "3")
          val (nodes, a, leaks3) = consumeAndClear(name, fn(spark, sfDir))
          spark.conf.set(key, "7")
          val (_, b, leaks7) = consumeAndClear(name, fn(spark, sfDir))
          rows += name -> RowRecord(
            nodes.map(_.nodeName).filter(n => n.contains("NestedLoop") || n.contains("Cartesian")),
            nodes.count {
              case w: WindowExec => w.partitionSpec.isEmpty
              case w: WindowGroupLimitExec => w.partitionSpec.isEmpty
              case _ => false
            },
            leaks3 ++ leaks7,
            a == b)
        } catch { case NonFatal(e) =>
          failed += name -> s"${e.getClass.getName} at ${spark.conf.get(key)} partitions: ${e.getMessage}"
          GraftStorage.clear(spark)
          leftPinned(name)
        }
      }
    } finally {
      spark.conf.set(key, prev)
      GraftStorage.clear(spark)
    }
    Sweep(rows.result(), failed.result())
  }

  test("every catalog row builds and executes at 3 and 7 partitions") {
    assume(new java.io.File(sfDir).isDirectory)
    assert(sweep.failed.isEmpty, s"catalog rows that threw: ${sweep.failed}")
  }

  test("every catalog query is bit-identical under different shuffle partitionings") {
    assume(new java.io.File(sfDir).isDirectory)
    val bad = sweep.rows.filter(!_._2.deterministic).keys.toSeq.sorted
    assert(bad.isEmpty, s"shuffle-partitioning-sensitive results: $bad")
  }

  test("no catalog query leaves persisted blocks after consume + clear") {
    assume(new java.io.File(sfDir).isDirectory)
    val leakers = sweep.rows.values.flatMap(_.leaks).toMap
    assert(leakers.isEmpty, s"queries leaving persisted blocks: $leakers")
  }

  test("no catalog query plans a non-whitelisted nested-loop or cartesian join") {
    assume(new java.io.File(sfDir).isDirectory)
    val offenders = sweep.rows.collect {
      case (name, r) if r.nestedLoops.nonEmpty && !nestedLoopWhitelist.contains(name) =>
        name -> r.nestedLoops
    }
    assert(offenders.isEmpty,
      s"non-equi joins outside the SCALE.md §4 whitelist: $offenders")
  }

  test("no catalog query plans a global window over an unbounded relation") {
    assume(new java.io.File(sfDir).isDirectory)
    val offenders = sweep.rows.collect {
      case (name, r) if r.globalWindows > 0 && !globalWindowWhitelist.contains(name) =>
        name -> r.globalWindows
    }
    assert(offenders.isEmpty,
      s"global (unpartitioned) windows outside the documented set: $offenders")
  }

  test("Verify.main rejects a wrong argument count with its usage line") {
    val e = intercept[IllegalArgumentException](Verify.main(Array("x")))
    assert(e.getMessage === "usage: Verify <sfDir> <outDir> [name,name,...]")
  }

  test("PlanDump.main rejects a wrong argument count with its usage line") {
    for (args <- Seq(Array("x"), Array("a", "b", "c", "d"))) {
      val e = intercept[IllegalArgumentException](graft.cli.PlanDump.main(args))
      assert(e.getMessage === "usage: PlanDump <outDir> <suffix> <name,name,...>")
    }
  }
}
