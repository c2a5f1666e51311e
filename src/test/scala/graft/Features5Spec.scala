package graft

import graft.pipeline.{SimilarityIvf, SimilarityLsh}
import org.apache.spark.sql.functions._

/** Round-11 specs: the mechanical LSH recall-saturation escalation —
  * `recallAt` (the forward S-curve `tablesFor` inverts), `cellsFor`
  * (IVF sizing under the same occupancy target), and the three
  * `SaturationPolicy` cases (`Escalate`, `FailLoud`, `ForceLsh`) of
  * `topKAutoRecall` and `embeddingNearDupAutoRecall` (r10 verdict
  * task 1: when the 64-table cap engages, nothing may under-deliver
  * the recall contract silently).
  */
class Features5Spec extends SparkTestBase {

  test("recallAt inverts tablesFor: unclamped sizings meet the target tightly; the 64 cap leaves a quantified gap") {
    for (planes <- Seq(4, 6, 8); r <- Seq(0.8, 0.9); c <- Seq(0.35, 0.5)) {
      val t = SimilarityLsh.tablesFor(planes, r, c)
      if (t < 64) {
        // ceil rounds UP: t tables meet the target...
        assert(SimilarityLsh.recallAt(planes, t, c) >= r,
          s"planes=$planes r=$r c=$c t=$t under-delivers")
        // ...and t is the SMALLEST such count (the inversion is tight)
        if (t > 1)
          assert(SimilarityLsh.recallAt(planes, t - 1, c) < r,
            s"planes=$planes r=$r c=$c: t-1=${t - 1} already suffices — inversion loose")
      }
    }
    // the saturating regime: 0.999-recall at cos 0.05 needs ~94 tables
    // of 4 planes — tablesFor clamps, and recallAt prices the shortfall
    assert(SimilarityLsh.tablesFor(4, 0.999, 0.05) === 64)
    val achievable = SimilarityLsh.recallAt(4, 64, 0.05)
    assert(achievable < 0.999 && achievable > 0.9,
      s"expected a real-but-insufficient capped recall, got $achievable")
    // more planes only saturate harder (per-band collision drops)
    assert(SimilarityLsh.recallAt(8, 64, 0.05) < achievable)
  }

  test("cellsFor is the balanced sqrt(n) sizing with a 16-cell floor") {
    assert(SimilarityLsh.cellsFor(100L) === 16)      // floor regime
    assert(SimilarityLsh.cellsFor(500L) === 23)      // ceil(sqrt(500))
    assert(SimilarityLsh.cellsFor(2000L) === 45)     // ceil(sqrt(2000))
    assert(SimilarityLsh.cellsFor(1000000L) === 1000) // assign ≡ pairing at n^1.5
  }

  test("topKAutoRecall saturation policies: the monotone gate never trades recall down — default keeps the better LSH, a measured IVF base escalates, FailLoud names the achievable recall, ForceLsh = the capped 64-table LSH graph") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val planes = SimilarityLsh.planesFor(n, SimilarityLsh.PairingMaxBucket)
    assert(SimilarityLsh.tablesFor(planes, 0.999, 0.05) === 64,
      "test premise: these params must saturate the table cap")

    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Boolean =
      a.except(b).isEmpty && b.except(a).isEmpty

    // the r11 finding, fixed: the capped LSH still achieves ~0.99 here
    // and the clusterless IVF floor model cannot beat it — the DEFAULT
    // policy must refuse the downgrade and keep the LSH graph
    val achievable = SimilarityLsh.recallAt(planes, 64, 0.05)
    val plan = SimilarityLsh.escalationPlan(n, 0.999, achievable)
    assert(!plan.escalate && plan.expectedIvf < achievable,
      "test premise: the IVF floor model must lose to the capped LSH here")
    val esc = SimilarityLsh.topKAutoRecall(emb, k = 3,
      targetRecall = 0.999, minCosine = 0.05) // default Escalate()
    val capped64 = SimilarityLsh.topKAuto(emb, k = 3, numTables = 64)
    assert(same(esc, capped64),
      "default Escalate() must keep the capped LSH graph when IVF is expected to deliver less")

    // a MEASURED IVF base recall that beats the achievable escalates —
    // multi-probe sized toward the target by nprobeFor
    val mPlan = SimilarityLsh.escalationPlan(n, 0.999, achievable, 0.95)
    assert(mPlan.escalate && mPlan.nprobe === 2,
      s"test premise: measured 0.95 base must escalate at nprobe=2, got $mPlan")
    val escM = SimilarityLsh.topKAutoRecall(emb, k = 3, targetRecall = 0.999,
      minCosine = 0.05, onSaturation = SimilarityLsh.Escalate(ivfRecallAtNprobe1 = 0.95))
    val ivf = SimilarityIvf.knnGraphMultiProbe(emb, 3, mPlan.cells, mPlan.nprobe)
    assert(same(escM, ivf),
      "Escalate(ivfRecallAtNprobe1) result diverges from the sized multi-probe IVF graph")

    val ex = intercept[IllegalArgumentException] {
      SimilarityLsh.topKAutoRecall(emb, k = 3, targetRecall = 0.999,
        minCosine = 0.05, onSaturation = SimilarityLsh.FailLoud)
    }
    assert(ex.getMessage.contains("unreachable") &&
      ex.getMessage.contains("achievable"),
      s"FailLoud must name the shortfall, got: ${ex.getMessage}")

    val forced = SimilarityLsh.topKAutoRecall(emb, k = 3, targetRecall = 0.999,
      minCosine = 0.05, onSaturation = SimilarityLsh.ForceLsh)
    val capped = SimilarityLsh.topKAuto(emb, k = 3, numTables = 64)
    assert(same(forced, capped), "ForceLsh result diverges from the capped LSH graph")
    GraftStorage.clear(spark)
  }

  test("hashesFor inverts minhashRecallAt tightly; absurd asks fail loudly") {
    import graft.pipeline.Dedup
    // j=0.3 with 4-row bands needs >512 hashes — that combo is the
    // loud-failure case below, not part of the inversion grid
    for (j <- Seq(0.3, 0.5, 0.7); r <- Seq(1, 2, 4) if !(j == 0.3 && r == 4);
         tgt <- Seq(0.8, 0.95)) {
      val h = Dedup.hashesFor(j, tgt, r)
      val bands = h / r
      assert(h % r === 0)
      assert(Dedup.minhashRecallAt(r, bands, j) >= tgt,
        s"j=$j r=$r tgt=$tgt: $bands bands under-deliver")
      if (bands > 1)
        assert(Dedup.minhashRecallAt(r, bands - 1, j) < tgt,
          s"j=$j r=$r tgt=$tgt: ${bands - 1} bands already suffice — inversion loose")
    }
    // the default 8-hash config (r=2, b=4) holds 0.9 recall only down to
    // J where 1-(1-J²)⁴ = 0.9 — below that, hashesFor says how many more
    assert(Dedup.hashesFor(0.5, 0.9, 2) > 8,
      "8 hashes cannot hold 0.9 recall at J=0.5 with 2-row bands")
    // absurd ask: 0.999 at J=0.1 with 4-row bands needs ~69k hashes
    val ex = intercept[IllegalArgumentException] {
      Dedup.hashesFor(0.1, 0.999, 4)
    }
    assert(ex.getMessage.contains("minhashes needed"))
  }

  test("lshRecallAudit predicted column: fixed-point S-curve mean matches a local replay") {
    import graft.pipeline.Dedup
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rows = Dedup.lshRecallAudit(docs, predicted = true).collect()
    // precision columns: candidates bound the verify stage; caught ⊆ cand
    rows.foreach { r =>
      val (caught, nCand) = (r.getLong(3), r.getLong(6))
      assert(nCand >= caught, s"r=${r.getInt(1)}: caught $caught > candidates $nCand")
      if (nCand > 0)
        assert(r.getDouble(7) === caught.toDouble / nCand.toDouble)
    }
    val got = rows
      .map(r => r.getInt(1) -> (r.getLong(2), r.getLong(3), r.getDouble(5))).toMap
    // local replay over the same truth pairs
    val truth = Dedup.ngramJaccardPairs(docs, minShared = 2L, minJaccard = 0.5)
      .select("jaccard").collect().map(_.getDouble(0))
    assert(truth.nonEmpty, "vacuous premise: no true pairs")
    def pow2(x: Double, e: Int): Double =
      if (e == 1) x else { val h = pow2(x, e / 2); h * h }
    for (r <- Seq(1, 2, 4, 8)) {
      val fpSum = truth.map(j =>
        math.floor((1.0 - pow2(1.0 - pow2(j, r), 8 / r)) * 1.0e9).toLong).sum
      val expect = fpSum.toDouble / truth.length.toDouble / 1.0e9
      assert(got(r)._3 === expect, s"r=$r")
      // sanity: predictions ordered by band width (narrow bands catch more)
    }
    assert(got(1)._3 > got(2)._3 && got(2)._3 > got(4)._3 && got(4)._3 > got(8)._3)
    // measured recall should sit in the prediction's neighborhood for the
    // wide-band configs on planted near-dups (the model-fit property this
    // row exists to surface; exact-dup-heavy truth keeps them close)
    GraftStorage.clear(spark)
  }

  test("knnGraphMultiProbe recall dominates the nprobe=1 graph per anchor (candidates are a superset)") {
    import graft.pipeline.{SimilarityIvf, SimilarityLsh}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cells = SimilarityLsh.cellsFor(emb.count())
    val r1 = SimilarityIvf.knnGraphRecallAudit(emb, k = 3, nAnchors = 30,
        numCells = cells)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val r2 = SimilarityIvf.knnGraphRecallAudit(emb, k = 3, nAnchors = 30,
        numCells = cells, nprobe = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(r1.keySet === r2.keySet)
    r1.foreach { case (q, rec1) =>
      assert(r2(q) >= rec1, s"anchor $q: nprobe=2 recall ${r2(q)} < nprobe=1 $rec1")
    }
    val m1 = r1.values.sum / r1.size
    val m2 = r2.values.sum / r2.size
    assert(m2 > m1, s"the extra probe must buy mean recall on this corpus ($m1 -> $m2)")
    GraftStorage.clear(spark)
  }

  test("knnGraphRecallAudit: one row per anchor, exact top-k truth sizes, recall in [0,1]") {
    import graft.pipeline.{SimilarityIvf, SimilarityLsh}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val rows = SimilarityIvf.knnGraphRecallAudit(emb, k = 3, nAnchors = 20,
      numCells = SimilarityLsh.cellsFor(emb.count())).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      assert(r.getLong(1) === 3L, "truth must be exactly top-3")
      val rec = r.getDouble(3)
      assert(rec >= 0.0 && rec <= 1.0)
    }
    GraftStorage.clear(spark)
  }

  test("knnGraphTrained: the refined graph is well-formed and its audit runs the same contract") {
    import graft.pipeline.{SimilarityIvf, SimilarityLsh}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cells = SimilarityLsh.cellsFor(emb.count())
    val g = SimilarityIvf.knnGraphTrained(emb, k = 3, numCells = cells).collect()
    assert(g.nonEmpty)
    // per-vector top-k: at most 3 neighbors each, ranks 1..3, no self-loop
    g.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.length <= 3)
      assert(rows.map(_.getLong(3)).sorted.sameElements(1L to rows.length.toLong))
      rows.foreach(r => assert(r.getLong(1) !== q))
    }
    val rows = SimilarityIvf.knnGraphTrainedRecallAudit(emb, k = 3,
      nAnchors = 20, numCells = cells).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      assert(r.getLong(1) === 3L)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    GraftStorage.clear(spark)
  }

  test("embeddingNearDupAutoRecall: contract regimes — exact, sized LSH, escalated IVF, loud failure") {
    import graft.pipeline.{Dedup, SimilarityIvf, SimilarityLsh}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Boolean =
      a.except(b).isEmpty && b.except(a).isEmpty
    // exact regime holds the contract at recall 1 (n <= exactLimit)
    assert(same(
      Dedup.embeddingNearDupAutoRecall(emb, 0.35, targetRecall = 0.9, exactLimit = n),
      Dedup.embeddingNearDup(emb, 0.35)))
    // sized-LSH regime: tables derived from the target
    val planes = SimilarityLsh.planesFor(n, SimilarityLsh.PairingMaxBucket)
    val tables = SimilarityLsh.tablesFor(planes, 0.9, 0.35)
    assert(tables < 64, "test premise: this sizing must NOT saturate")
    assert(same(
      Dedup.embeddingNearDupAutoRecall(emb, 0.35, targetRecall = 0.9, exactLimit = 0L),
      SimilarityLsh.candidatePairsAuto(emb, numTables = tables,
        maxBucketSize = SimilarityLsh.PairingMaxBucket)
        .filter(col("cos") >= 0.35)))
    // saturated + default: the clusterless IVF floor cannot beat the
    // ~0.99 achievable here — the monotone gate keeps the capped
    // 64-table LSH pairs (the r11 recall-downgrade finding, fixed)
    assert(same(
      Dedup.embeddingNearDupAutoRecall(emb, 0.05, targetRecall = 0.999, exactLimit = 0L),
      SimilarityLsh.candidatePairsAuto(emb, numTables = 64,
        maxBucketSize = SimilarityLsh.PairingMaxBucket)
        .filter(col("cos") >= 0.05)))
    // a measured IVF base that beats the achievable escalates to the
    // multi-probe within-cell pair join, nprobe sized toward the target
    assert(same(
      Dedup.embeddingNearDupAutoRecall(emb, 0.05, targetRecall = 0.999,
        exactLimit = 0L, onSaturation = SimilarityLsh.Escalate(ivfRecallAtNprobe1 = 0.95)),
      SimilarityIvf.nearDupPairsMultiProbe(emb, 0.05,
        SimilarityLsh.cellsFor(n), nprobe = 2)))
    // ...or throws, naming the shortfall
    val ex = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupAutoRecall(emb, 0.05, targetRecall = 0.999,
        exactLimit = 0L, onSaturation = SimilarityLsh.FailLoud)
    }
    assert(ex.getMessage.contains("unreachable"))
    GraftStorage.clear(spark)
  }

  test("topKAutoRecall below the cap keeps the LSH plan (no spurious escalation)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val planes = SimilarityLsh.planesFor(n, SimilarityLsh.PairingMaxBucket)
    val tables = SimilarityLsh.tablesFor(planes, 0.9, 0.35)
    assert(tables < 64, "test premise: this sizing must NOT saturate")
    val auto = SimilarityLsh.topKAutoRecall(emb, k = 3,
      targetRecall = 0.9, minCosine = 0.35)
    val lsh = SimilarityLsh.topKAuto(emb, k = 3, numTables = tables)
    assert(auto.except(lsh).isEmpty && lsh.except(auto).isEmpty)
    GraftStorage.clear(spark)
  }
}
