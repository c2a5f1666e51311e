package graft

import graft.pipeline.{Dedup, SimilarityIvf, SimilarityLsh}
import org.apache.spark.sql.functions._

/** Round-12 specs: the MONOTONE saturation escalation (r11 verdict
  * task 1 — escalation must never deliver less expected recall than
  * the sizing it abandons), the nprobe sizing contract completing the
  * planesFor/tablesFor/hashesFor family (task 3), and the two r11
  * advice regressions (j=1 recall, predicted-mode rows_per_band
  * naming).
  */
class EscalationSpec extends SparkTestBase {

  test("nprobeFor inverts expectedRecall tightly under its clamps") {
    for (cells <- Seq(16, 23, 45, 142, 1000); t <- Seq(0.2, 0.35, 0.5, 0.9)) {
      val np = SimilarityIvf.nprobeFor(t, cells)
      assert(np >= 1 && np <= math.min(cells, SimilarityIvf.MaxNprobe))
      val unclamped = np < math.min(cells, SimilarityIvf.MaxNprobe)
      if (unclamped) {
        assert(SimilarityIvf.expectedRecall(cells, np) >= t,
          s"cells=$cells t=$t np=$np under-delivers")
        if (np > 1)
          assert(SimilarityIvf.expectedRecall(cells, np - 1) < t,
            s"cells=$cells t=$t: np-1=${np - 1} already suffices — inversion loose")
      }
    }
    // the measured-base form inverts from the audit reading, not cells
    assert(SimilarityIvf.nprobeFor(0.999, 23, recallAtNprobe1 = 0.95) === 2)
    assert(SimilarityIvf.nprobeFor(0.9, 1000, recallAtNprobe1 = 0.5) === 4)
  }

  test("expectedRecall: sqrt(nprobe) amplification, capped at 1, conservative on every measured surface point") {
    // monotone in nprobe, never above 1
    for (cells <- Seq(23, 45, 142); np <- 1 until 16) {
      val a = SimilarityIvf.expectedRecall(cells, np)
      val b = SimilarityIvf.expectedRecall(cells, np + 1)
      assert(b >= a && b <= 1.0)
    }
    // the SCALE.md Round-11 measured surface (the IVF recall curve, mean top-3
    // recall, cells = cellsFor(n)) — the floor model must sit AT OR
    // BELOW all nine points (conservative: it gates escalation, and an
    // optimistic model would re-open the recall-downgrade hole)
    val measured = Seq( // (cells, nprobe, measured recall)
      (23, 1, 0.193), (23, 2, 0.280), (23, 4, 0.407),
      (45, 1, 0.207), (45, 2, 0.300), (45, 4, 0.413),
      (142, 1, 0.080), (142, 2, 0.113), (142, 4, 0.213))
    measured.foreach { case (cells, np, m) =>
      val e = SimilarityIvf.expectedRecall(cells, np)
      assert(e <= m + 1e-12, f"model $e%.4f above measured $m at cells=$cells np=$np")
    }
    // measured base overrides the floor
    assert(SimilarityIvf.expectedRecall(45, 1, recallAtNprobe1 = 0.6) === 0.6)
    assert(SimilarityIvf.expectedRecall(45, 4, recallAtNprobe1 = 0.6) === 1.0)
  }

  test("escalationPlan is recall-monotone: it escalates ONLY when the sized IVF is expected to beat the achievable LSH") {
    for (n <- Seq(500L, 2000L, 20000L, 1000000L);
         t <- Seq(0.35, 0.5, 0.9, 0.999);
         achievable <- Seq(0.05, 0.23, 0.5, 0.73, 0.99);
         r1 <- Seq(-1.0, 0.3, 0.95)) {
      val plan = SimilarityLsh.escalationPlan(n, t, achievable, r1)
      // what the chosen path is expected to deliver — never below the
      // LSH achievable (the r11 verdict's "never reduces expected
      // recall" contract, pinned)
      val delivered = if (plan.escalate) plan.expectedIvf else achievable
      assert(delivered >= achievable,
        s"n=$n t=$t a=$achievable r1=$r1: chose $plan, delivered $delivered < achievable")
      if (plan.escalate)
        assert(plan.expectedIvf > achievable,
          s"n=$n t=$t a=$achievable r1=$r1: escalated without expecting to win")
      assert(plan.cells === SimilarityLsh.cellsFor(n))
      assert(plan.nprobe === SimilarityIvf.nprobeFor(t, plan.cells, r1))
    }
  }

  test("EscalateIvfSampled: sampledRecallBase = micro-averaged audit; thin shards fall back loudly; deterministic") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // fraction=1.0: shard = whole corpus, shard centroids = lowest-16
    // ids = the fixed quantizer — the reading must equal the deployed
    // audit's micro-average exactly (same graph, same anchors, same
    // exact-int ratio)
    val base = SimilarityLsh.sampledRecallBase(emb, 1.0, nAnchors = 50)
    val audit = SimilarityIvf.knnGraphRecallAudit(emb, k = 3, nAnchors = 50,
        numCells = SimilarityLsh.cellsFor(emb.count()))
      .agg(sum("n_caught").cast("double") / sum("n_truth").cast("double"))
      .head().getDouble(0)
    assert(base === audit, s"sampled base $base != audit micro-average $audit")
    assert(base > 0.0 && base <= 1.0)
    // deterministic: the md5 shard, centroid choice, and audit replay
    assert(SimilarityLsh.sampledRecallBase(emb, 1.0, 50) === base)
    // a shard under SampledShardFloor rows refuses to pretend: -1 sends
    // the gate to the clusterless floor model
    assert(SimilarityLsh.sampledRecallBase(emb, 0.05, 50) === -1.0)
    // the policy validates its fraction
    intercept[IllegalArgumentException] {
      SimilarityLsh.EscalateIvfSampled(0.0)
    }
    graft.GraftStorage.clear(spark)
  }

  test("bestIndexPlan is recall-monotone over three families: expected = max(achievable, floor IVF, measured hier)") {
    for (n <- Seq(500L, 2000L, 20000L, 1000000L);
         t <- Seq(0.35, 0.9, 0.999);
         achievable <- Seq(0.05, 0.23, 0.5, 0.82, 0.99);
         rh <- Seq(-1.0, 0.1, 0.45, 0.9)) {
      val c = SimilarityLsh.bestIndexPlan(n, t, achievable, rh)
      // never below the LSH achievable (the r11 contract), and never
      // below what EITHER escalation candidate honestly promises
      assert(c.expected >= achievable - 1e-12,
        s"n=$n t=$t a=$achievable rh=$rh: $c under-delivers vs LSH")
      val best = Seq(achievable, c.ivf.expectedIvf, rh).max
      assert(math.abs(c.expected - best) <= 1e-9 || c.expected >= best - 1e-9,
        s"n=$n t=$t a=$achievable rh=$rh: $c not the max-expected family")
      c.family match {
        case "hier" => assert(rh > math.max(achievable, c.ivf.expectedIvf))
        case "ivf"  => assert(c.ivf.escalate && c.expected === c.ivf.expectedIvf)
        case "lsh"  => assert(c.expected === achievable)
      }
      // the embedded flat-IVF sizing is the floor-model escalationPlan
      assert(c.ivf === SimilarityLsh.escalationPlan(n, t, achievable))
    }
    // a thin-shard fallback (rh = -1) can never pick hier
    assert(SimilarityLsh.bestIndexPlan(2000L, 0.999, 0.05, -1.0).family !== "hier")
    // the policy validates its knobs
    intercept[IllegalArgumentException] {
      SimilarityLsh.EscalateHierSampled(1.5)
    }
    intercept[IllegalArgumentException] {
      SimilarityLsh.EscalateHierSampled(0.25, capMult = 0)
    }
  }

  test("EscalateHierSampled: sampledHierRecall = micro-averaged hier audit at fraction 1; thin shards degrade; gate returns the hier plan when it wins") {
    import graft.pipeline.SimilarityHier
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // the clustered derivation (the corpus where hier honestly wins) —
    // the Queries.clusteredVectors twin, inline
    val cl = emb.select(col("vec_id"), array((0 until 64).map { d =>
      (pmod(pmod(col("vec_id"), lit(16)) * lit(37) + lit(d * 13), lit(17)) - lit(8))
        .cast("double") + col("embedding").getItem(d).cast("double")
    }: _*).as("embedding"))
    // fraction=1.0: the reading must equal the deployed audit's
    // micro-average exactly (same graph, same anchors, same ratio)
    val rh = SimilarityHier.sampledHierRecall(cl, 1.0, nAnchors = 50)
    val audit = SimilarityHier.knnGraphHierRecallAudit(cl, k = 3, nAnchors = 50)
      .agg(sum("n_caught").cast("double") / sum("n_truth").cast("double"))
      .head().getDouble(0)
    assert(rh === audit, s"sampled hier $rh != audit micro-average $audit")
    assert(rh > 0.5, s"premise: hier must be strong on the clustered corpus, got $rh")
    // thin shard refuses to pretend
    assert(SimilarityHier.sampledHierRecall(cl, 0.05, 50) === -1.0)
    // end-to-end: params that saturate LSH with a low achievable — the
    // gate must pick hier and return the exact knnGraphHier plan
    val n = cl.count()
    val planes = SimilarityLsh.planesFor(n, SimilarityLsh.PairingMaxBucket)
    val achievable = SimilarityLsh.recallAt(planes, 64, -0.3)
    val choice = SimilarityLsh.bestIndexPlan(n, 0.999, achievable, rh)
    assert(choice.family === "hier",
      s"premise: hier must win at this sizing (a=$achievable rh=$rh), got $choice")
    val gated = SimilarityLsh.topKAutoRecall(cl, k = 3, targetRecall = 0.999,
      minCosine = -0.3, onSaturation = SimilarityLsh.EscalateHierSampled(1.0),
      knownCount = n)
    val direct = SimilarityHier.knnGraphHier(cl, 3, capMult = 1, nprobe = 4,
      knownCount = n)
    assert(gated.except(direct).isEmpty && direct.except(gated).isEmpty,
      "the gate's hier branch must return exactly the hierarchical graph")
    // r13 optimization equivalence: a caller that already paid for the
    // shard reading passes it via EscalateHierMeasured — bestIndexPlan is
    // pure, so the Measured gate must return the IDENTICAL plan as the
    // Sampled gate fed the same corpus (one shard audit instead of two)
    val measuredGate = SimilarityLsh.topKAutoRecall(cl, k = 3,
      targetRecall = 0.999, minCosine = -0.3,
      onSaturation = SimilarityLsh.EscalateHierMeasured(rh), knownCount = n)
    assert(measuredGate.except(gated).isEmpty && gated.except(measuredGate).isEmpty,
      "EscalateHierMeasured(rh) must equal EscalateHierSampled at the same reading")
    // the -1 sentinel degrades to the floor gate (never hier), same as a
    // thin shard; and the policy rejects junk readings
    assert(SimilarityLsh.bestIndexPlan(n, 0.999, achievable, -1.0).family !== "hier")
    intercept[IllegalArgumentException] {
      SimilarityLsh.EscalateHierMeasured(1.5)
    }
    intercept[IllegalArgumentException] {
      SimilarityLsh.EscalateIvfMeasured(0.0)
    }
    GraftStorage.clear(spark)
  }

  test("nearDupPairsMultiProbe: candidates are a superset of nearDupPairs (probe rank 1 is the own cell); pairs well-formed") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cells = SimilarityLsh.cellsFor(emb.count())
    val base = SimilarityIvf.nearDupPairs(emb, -1.0 + 1e-9, cells)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = SimilarityIvf.nearDupPairsMultiProbe(emb, -1.0 + 1e-9, cells, nprobe = 2)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(base.subsetOf(multi),
      s"${(base -- multi).size} nprobe=1 pairs missing from the nprobe=2 candidates")
    assert(multi.size > base.size,
      "the extra probe must surface cross-cell pairs on this corpus")
    multi.foreach { case (a, b) => assert(a < b, s"unordered pair ($a,$b)") }
    GraftStorage.clear(spark)
  }

  test("knnGraphMultiProbeAuto: derives cells and nprobe exactly as the explicit sizing; knownCount skips the count job") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val cells = SimilarityLsh.cellsFor(n)
    val np = SimilarityIvf.nprobeFor(0.35, cells)
    assert(np > 1, "test premise: the sized nprobe must exercise the multi-probe path")
    val auto = SimilarityIvf.knnGraphMultiProbeAuto(emb, k = 3,
      targetRecall = 0.35, knownCount = n)
    val explicit = SimilarityIvf.knnGraphMultiProbe(emb, 3, cells, np)
    assert(auto.except(explicit).isEmpty && explicit.except(auto).isEmpty)
    GraftStorage.clear(spark)
  }

  test("r11 advice regressions: minhashRecallAt admits j=1 (recall 1); predicted-mode names the rows_per_band constraint") {
    assert(Dedup.minhashRecallAt(2, 4, 1.0) === 1.0)
    assert(Dedup.minhashRecallAt(8, 1, 1.0) === 1.0)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ex = intercept[IllegalArgumentException] {
      Dedup.lshRecallAudit(docs, numHashes = 12, rowsPerBandConfigs = Seq(3),
        predicted = true).collect()
    }
    assert(ex.getMessage.contains("rows_per_band"),
      s"the failure must name the user-facing constraint, got: ${ex.getMessage}")
    GraftStorage.clear(spark)
  }
}
