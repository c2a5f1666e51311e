package graft

import graft.pipeline.{Dedup, SimilarityIvf, SimilarityLsh}
import org.apache.spark.sql.functions._

/** Round-12 specs: the MONOTONE saturation escalation (r11 verdict
  * task 1 — escalation must never deliver less expected recall than
  * the sizing it abandons) and the one `saturationGate` both auto-recall
  * entry points run, the nprobe sizing contract completing the
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

  test("sampledRecallBase = micro-averaged audit; thin shards fall back loudly; deterministic") {
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
    graft.GraftStorage.clear(spark)
  }

  test("bestIndexPlan is recall-monotone over three families: expected = max(achievable, floor IVF, measured hier)") {
    for (n <- Seq(500L, 2000L, 20000L, 1000000L);
         t <- Seq(0.35, 0.9, 0.999);
         achievable <- Seq(0.05, 0.23, 0.5, 0.82, 0.99);
         rh <- Seq(-1.0, 0.1, 0.45, 0.9)) {
      val c = SimilarityLsh.bestIndexPlan(n, t, achievable, -1.0, rh)
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
    assert(SimilarityLsh.bestIndexPlan(2000L, 0.999, 0.05, -1.0, -1.0).family !== "hier")
  }

  test("saturationGate grid: escalationPlan's choice without a hier reading, the hier rule without an IVF reading, the max family with both") {
    import SimilarityLsh.{Escalate, FailLoud, ForceLsh}
    val ns = Seq(500L, 2000L, 20000L, 1000000L)
    val ts = Seq(0.35, 0.5, 0.9, 0.999)
    val r1s = Seq(-1.0, 0.3, 0.95)
    val rhs = Seq(-1.0, 0.1, 0.45, 0.9)
    // the hierarchical rule priced against the FLOOR-model IVF: hier
    // only on a strict win over both other families
    def hierRule(n: Long, t: Double, a: Double, rh: Double): (String, Double) = {
      val ivf = SimilarityLsh.escalationPlan(n, t, a)
      if (rh > math.max(a, ivf.expectedIvf) + 1e-9) ("hier", rh)
      else if (ivf.escalate) ("ivf", ivf.expectedIvf)
      else ("lsh", a)
    }
    var ties = 0
    for (n <- ns; t <- ts; r1 <- r1s) {
      val e = SimilarityLsh.escalationPlan(n, t, 0.0, r1).expectedIvf
      // ties break toward LSH: an exact tie, and one that sits exactly
      // at the 1e-9 slack, both keep the LSH (and never pick hier)
      val slackTie = e - 1e-9
      val tieAs = Seq(e) ++ (if (slackTie + 1e-9 == e) Seq(slackTie) else Nil)
      ties += tieAs.size - 1
      for (a <- Seq(0.05, 0.23, 0.5, 0.73, 0.82, 0.99) ++ tieAs; rh <- rhs) {
        val ivf = SimilarityLsh.escalationPlan(n, t, a, r1)
        val c = SimilarityLsh.bestIndexPlan(n, t, a, r1, rh)
        val at = s"n=$n t=$t a=$a r1=$r1 rh=$rh: $c"
        assert(c.cells === ivf.cells && c.nprobe === ivf.nprobe, at)
        assert(c.ivf === ivf, at)
        if (rh == -1.0) {
          assert(c.family === (if (ivf.escalate) "ivf" else "lsh"), at)
          assert(c.expected === (if (ivf.escalate) ivf.expectedIvf else a), at)
        }
        if (r1 == -1.0) assert((c.family, c.expected) === hierRule(n, t, a, rh), at)
        // both readings: the max-expected family, never below the LSH
        assert(c.expected >= a, at)
        assert(math.abs(c.expected - Seq(a, ivf.expectedIvf, rh).max) <= 2e-9, at)
        if (tieAs.contains(a)) assert(c.family !== "ivf", s"tie escalated — $at")
      }
      // a hier reading that only ties the best other family at the
      // slack is not a win
      assert(SimilarityLsh.bestIndexPlan(n, t, 0.5, r1,
          math.max(0.5, e) + 1e-9).family !== "hier",
        s"n=$n t=$t r1=$r1: a slack-tied hier reading won")
    }
    assert(ties > 0, "grid premise: no slack tie was representable")

    // the gate prices the LSH sizing itself and delegates the family to
    // bestIndexPlan when saturated under Escalate
    for (n <- Seq(500L, 20000L, 1000000L); t <- Seq(0.35, 0.9, 0.999);
         minCos <- Seq(-0.7, 0.05, 0.5); r1 <- Seq(-1.0, 0.95); rh <- Seq(-1.0, 0.9)) {
      val planes = SimilarityLsh.planesFor(n, SimilarityLsh.PairingMaxBucket)
      val tables = SimilarityLsh.tablesFor(planes, t, minCos)
      val a = SimilarityLsh.recallAt(planes, tables, minCos)
      val saturated = a + 1e-9 < t
      val g = SimilarityLsh.saturationGate(n, t, minCos, Escalate(r1, rh))
      val at = s"n=$n t=$t cos=$minCos r1=$r1 rh=$rh: $g"
      assert(g.planes === planes && g.tables === tables && g.achievable === a &&
        g.saturated === saturated, at)
      val best = SimilarityLsh.bestIndexPlan(n, t, a, r1, rh)
      if (saturated) {
        assert((g.family, g.expected, g.ivf) === ((best.family, best.expected, best.ivf)), at)
        assert(SimilarityLsh.saturationGate(n, t, minCos, ForceLsh).family === "lsh", at)
        val ex = intercept[IllegalArgumentException] {
          SimilarityLsh.saturationGate(n, t, minCos, FailLoud)
        }
        assert(ex.getMessage.contains("unreachable") &&
          ex.getMessage.contains("achievable"), at)
      } else {
        assert(g.family === "lsh" && g.expected === a, at)
        assert(SimilarityLsh.saturationGate(n, t, minCos, FailLoud).family === "lsh", at)
      }
    }
    // an achievable that meets the target within the 1e-9 slack is not
    // saturated, even at the 64-table cap
    val capped = SimilarityLsh.recallAt(4, 64, 0.05)
    val atSlack = SimilarityLsh.saturationGate(500L, capped + 1e-9, 0.05, FailLoud)
    assert(atSlack.tables === 64 && !atSlack.saturated && atSlack.family === "lsh",
      s"a target at the slack saturated: $atSlack")
  }

  test("saturationGate: the graph and pair entry points build the family the same decision picks") {
    import graft.pipeline.SimilarityHier
    import SimilarityLsh.Escalate
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Boolean =
      a.except(b).isEmpty && b.except(a).isEmpty
    // 0.999 at cos 0.05 saturates the cap with ~0.99 achievable: the
    // floor model keeps the LSH, a measured 0.95 base escalates to
    // multi-probe IVF, a perfect hier reading wins outright
    val families = Seq(Escalate(), Escalate(ivfRecallAtNprobe1 = 0.95),
        Escalate(hierRecall = 1.0)).map { policy =>
      val c = SimilarityLsh.saturationGate(n, 0.999, 0.05, policy)
      val (graph, pairs) = c.family match {
        case "hier" =>
          (SimilarityHier.knnGraphHier(emb, 3, capMult = 1, nprobe = 4, knownCount = n),
            SimilarityHier.nearDupPairsHier(emb, 0.05, capMult = 1, nprobe = 4,
              knownCount = n))
        case "ivf" =>
          assert(c.nprobe > 1, s"premise: $policy must size a multi-probe IVF, got $c")
          (SimilarityIvf.knnGraphMultiProbe(emb, 3, c.cells, c.nprobe),
            SimilarityIvf.nearDupPairsMultiProbe(emb, 0.05, c.cells, c.nprobe))
        case _ =>
          (SimilarityLsh.topKAuto(emb, 3, numTables = c.tables),
            SimilarityLsh.candidatePairsAuto(emb, numTables = c.tables,
              maxBucketSize = SimilarityLsh.PairingMaxBucket)
              .filter(col("cos") >= 0.05))
      }
      assert(same(SimilarityLsh.topKAutoRecall(emb, k = 3, targetRecall = 0.999,
        minCosine = 0.05, onSaturation = policy, knownCount = n), graph),
        s"$policy: the graph entry point did not build the '${c.family}' graph")
      assert(same(Dedup.embeddingNearDupAutoRecall(emb, 0.05, targetRecall = 0.999,
        exactLimit = 0L, onSaturation = policy, knownCount = n), pairs),
        s"$policy: the pair entry point did not build the '${c.family}' pairs")
      c.family
    }
    assert(families === Seq("lsh", "ivf", "hier"))
    GraftStorage.clear(spark)
  }

  test("sampledHierRecall = micro-averaged hier audit at fraction 1; thin shards degrade; gate returns the hier plan when it wins") {
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
    val choice = SimilarityLsh.bestIndexPlan(n, 0.999, achievable, -1.0, rh)
    assert(choice.family === "hier",
      s"premise: hier must win at this sizing (a=$achievable rh=$rh), got $choice")
    val gated = SimilarityLsh.topKAutoRecall(cl, k = 3, targetRecall = 0.999,
      minCosine = -0.3, onSaturation = SimilarityLsh.Escalate(hierRecall = rh),
      knownCount = n)
    val direct = SimilarityHier.knnGraphHier(cl, 3, capMult = 1, nprobe = 4,
      knownCount = n)
    assert(gated.except(direct).isEmpty && direct.except(gated).isEmpty,
      "the gate's hier branch must return exactly the hierarchical graph")
    // the -1 sentinel degrades to the floor gate (never hier), same as a
    // thin shard; and the policy rejects junk readings
    assert(SimilarityLsh.bestIndexPlan(n, 0.999, achievable, -1.0, -1.0).family !== "hier")
    intercept[IllegalArgumentException] {
      SimilarityLsh.Escalate(hierRecall = 1.5)
    }
    intercept[IllegalArgumentException] {
      SimilarityLsh.Escalate(ivfRecallAtNprobe1 = 0.0)
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
