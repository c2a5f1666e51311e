package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, struct, xxhash64}
object Bench {
  /** Force FULL evaluation of every output column. A bare `count()` lets
    * Catalyst prune the projection — projection-only queries (text stats,
    * fingerprints, cleaners) were being timed as parquet row-count scans.
    * Hashing a struct of all columns keeps every expression in the plan
    * while still reducing to one driver row (no collect of results).
    */
  private def consume(df: DataFrame): Unit = {
    df.agg(count(xxhash64(struct(col("*"))))).head()
    ()
  }
  /** Single-thread host-speed calibration: wall-time (ms, min of 3) of a
    * fixed splitmix64 mixing loop. The bench hosts change between rounds
    * while reporting the same hostname, so committed floors carry this
    * number per run and [[floors]] NORMALIZES them to the current host
    * (floor × calNow/calRun) before the regression compare — a real
    * 1.3× plan regression no longer hides inside a 1.3×-slower host,
    * and a slower host no longer reads as 8 false regressions (the r10
    * BASELINE.md floor-calibration note, made mechanical — r10 verdict
    * task 8). Min of 3 ≈ the least-loaded estimate, same stance as the
    * min-of-medians floors themselves.
    */
  private[graft] def calibrate(): Double = {
    def mix(seed: Long, iters: Int): Long = {
      var x = seed; var s = 0L; var i = 0
      while (i < iters) {
        x += 0x9E3779B97F4A7C15L
        var z = x
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        s ^= z ^ (z >>> 31)
        i += 1
      }
      s
    }
    var sink = mix(42L, 20000000) // JIT warmup, untimed
    val times = (1 to 3).map { r =>
      val t0 = System.nanoTime()
      sink ^= mix(r.toLong, 100000000)
      (System.nanoTime() - t0) / 1e6
    }
    if (sink == 42L) System.err.println("[bench] calibration sink") // keep live
    math.rint(times.min * 10) / 10
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // partitions scale with DATA, not cores: the 100× sweep's 630M-row
    // pairing shuffles spill-OOM'd at 32 partitions in an 8g heap —
    // exactly the "size shuffle.partitions so partitions fit executor
    // memory at the target SF" rule. Default stays cpus (the per-round
    // sf0.1 shape); scale sweeps pass SPARK_GRAFT_SHUFFLE_PARTITIONS.
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The eager-checkpoint graph loops emit one "... locally checkpointed"
    // WARN per RDD — thousands of lines that drowned the driver's stdout
    // tail capture (BENCH_r12 lost its parsed per-query map). The emitted
    // JSON lines below are the artifact; that logger says nothing a bench
    // reader needs.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    // untimed warmup at the smallest SF (sibling of the bench dir, or the
    // bench dir itself): JIT + codegen compilation + parquet footer caching
    // happen here, not inside the timed runs
    // comma-separated name substrings — warm/time only the matching
    // queries (local iteration aid; the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSeq)
    def selected(name: String) = only.forall(_.exists(name.contains))
    val warmDir = {
      val sibling = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
      if (sibling.isDirectory) sibling.getPath else sfDir
    }
    if (new java.io.File(warmDir).isDirectory) {
      SparkEntry.queries.filter(e => selected(e._1)).foreach { case (_, fn) =>
        try consume(fn(spark, warmDir)) catch { case _: Throwable => () }
      }
      // warmup leaves its own persisted blocks (sf0.001 — small, but ~190
      // cache entries); start the timed region clean
      GraftStorage.clear(spark)
    }
    // A failed query records -1, not its (near-zero) time-to-throw: xxhash64
    // rejects MapType columns unless legacy-enabled, and an analysis error
    // must not masquerade as a fast query in the emitted JSON.
    // SPARK_GRAFT_BENCH_REPS > 1 records the per-query MEDIAN of that many
    // timed runs — single-shot timings carry ±2-3 s of JIT/GC noise that
    // otherwise dominates per-query comparisons across rounds.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "1").toInt.max(1)
    // Library entry points (LSH keys, BPE char-splits, triangle wedges, …)
    // persist relations their lazily-returned results reference, so they
    // cannot unpersist before the caller consumes. GraftStorage.clear is
    // the library's owning-cleanup hook for exactly this: it releases
    // every block graft pinned once the result has been consumed — each
    // query is an independent job in production, so per-query release is
    // the honest cost model, and across ~190 queries the blocks would
    // otherwise accumulate and tax late queries with GC/eviction churn.
    // withTracked: consume inside the scope, blocks released on exit —
    // success OR throw (the scoped form of the owning-cleanup contract).
    // The stopwatch is read INSIDE the scope, before the exit clear, so
    // timings stay comparable with the pre-r10 floors (clear ran outside
    // the timed span then too).
    def timeOnce(name: String, fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      try {
        var dt = -1.0
        GraftStorage.withTracked(spark) {
          consume(fn(spark, sfDir)); dt = (System.nanoTime() - t0) / 1e9
        }
        dt
      }
      catch { case e: Throwable =>
        // -1 in the JSON, but the WHY goes to stderr — a silent -1
        // cost a debugging session (launcher-dependent add-opens
        // failure looked identical to a plan regression)
        System.err.println(s"[bench] $name failed: " +
          String.valueOf(e.getMessage).take(300))
        -1.0
      }
    }
    // host-speed fingerprint, measured right before the timed region so
    // it reflects the load the timings ran under
    val calMs = calibrate()
    val results = SparkEntry.queries.filter(e => selected(e._1)).map { case (name, fn) =>
      val times = Seq.fill(reps)(timeOnce(name, fn)).filter(_ >= 0).sorted
      name -> (if (times.isEmpty) -1.0 else times(times.size / 2))
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => k }.toSeq.sorted
    val total = results.values.filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    // The single per-query line above outgrew the driver's stdout tail
    // capture at 104 queries (BENCH_r03 lost its total; BENCH_r07 kept
    // only 61 of 276 queries). Two mitigations, so the full map is never
    // lost again (r7 verdict #2):
    //   1. the COMPLETE result is written to a committed file
    //      (BENCH_DETAILS.json — the durable per-query artifact);
    //   2. stdout re-emits the map in bounded ~40-query chunks, each
    //      line short enough to survive any tail capture individually.
    val sorted = results.toSeq.sortBy(_._1)
    // cpus-qualified default: the driver benches twice (32-core, then a
    // low-core scaling run); a shared default name let the second run
    // clobber the first (r13: the 8-core sweep overwrote the 32-core
    // per-query map, leaving PERF_r13 with an empty per_query table).
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"BENCH_DETAILS_c$cpus.json")
    val fileJson = new StringBuilder()
      .append(s"""{\n "sf": "$sfDir",\n "cpus": $cpus,\n "reps": $reps,\n""")
      .append(s""" "cal_ms": $calMs,\n""")
      .append(s""" "total": $total,\n "failed": $failedJson,\n "queries": {\n""")
      .append(sorted.map { case (k, v) => s"""  "$k": $v""" }.mkString(",\n"))
      .append("\n }\n}\n").toString()
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), fileJson)
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}") }
    sorted.grouped(40).zipWithIndex.foreach { case (chunk, i) =>
      val m = chunk.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
      println(s"""{"metric":"queries_chunk","chunk":${i + 1},"chunks":${(sorted.size + 39) / 40},"queries":$m}""")
    }
    // Contention-vs-regression triage: compare each time against the
    // committed reps=3 floor (min of per-run medians in the newest
    // BENCH_MEDIANS_r*.json), HOST-NORMALIZED: runs that recorded a
    // cal_ms have their medians scaled by calNow/calRun before the min,
    // so cross-host floors compare like-for-like (r10 verdict task 8).
    // A >2x-over-floor reading on a loaded host is machine-
    // distinguishable from a plan regression only if the floor rides
    // along in the artifact.
    floors(calMs) match {
      case Some((floorFile, fl)) =>
        val flagged = sorted.collect {
          case (k, v) if v > 0 && fl.get(k).exists(f => v > 2 * f && v - f > 0.5) =>
            (k, v, fl(k))
        }
        // Self-triage is ON BY DEFAULT since r10 (opt OUT with
        // SPARK_GRAFT_BENCH_REFLAG=0): re-run each flagged query at
        // reps=3 IN THE SAME PROCESS and carry the median along — a
        // loaded host inflates single-shot readings uniformly (r8: 30
        // false flags, worst 12×, all contention; r9's driver run left
        // 19 flags un-adjudicated because the knob was opt-in), and a
        // same-process remeasure lets the run self-triage contention vs
        // plan regression instead of waiting for a next-session rerun.
        val reflag = !sys.env.get("SPARK_GRAFT_BENCH_REFLAG").contains("0")
        val entries = flagged.map { case (k, v, f) =>
          val re =
            if (!reflag) ""
            else {
              val fn = SparkEntry.queries(k)
              val times = Seq.fill(3)(timeOnce(k, fn)).filter(_ >= 0).sorted
              val med = if (times.isEmpty) -1.0 else times(times.size / 2)
              s""","remeasured":$med"""
            }
          s""""$k":{"sec":$v,"floor":$f$re}"""
        }
        // "note": cal_ms is a single-thread CPU proxy — it normalizes
        // host compute speed, not shuffle/IO contention; flags are
        // triage signals, the remeasured median is the adjudicator
        println(s"""{"metric":"flagged","reflag":$reflag,"floor_file":"$floorFile","cal_ms":$calMs,"note":"cal_ms is a single-thread CPU proxy; IO/shuffle contention is not normalized","n":${entries.size},"flagged":${entries.mkString("{", ",", "}")}}""")
      case None => ()
    }
    // Readers of stdout take the LAST line with a "queries" key as the
    // numeric per-query map: the triage line above names its map
    // "flagged", and the full map is re-emitted here at 3 dp.
    val qs3 = sorted.map { case (k, v) =>
      "\"" + k + "\":" + "%.3f".formatLocal(java.util.Locale.ROOT, v)
    }.mkString("{", ",", "}")
    println(s"""{"metric":"queries","unit":"sec","queries":$qs3}""")
    // Short last line: the summary must always fit the tail capture.
    println(s"""{"metric":"summary","total":$total,"n":${results.size},"reps":$reps,"cal_ms":$calMs,"failed":$failedJson,"unit":"sec","sf":"$sfDir"}""")
    spark.stop()
  }

  /** Per-query committed floors: min of the per-run medians across every
    * run in the NEWEST `BENCH_MEDIANS_r*.json` in the working directory
    * (the artifact each round commits), HOST-NORMALIZED — a run that
    * recorded its [[calibrate]] reading (`"cal_ms"`, per run) has its
    * medians scaled by `calNow/calRun` before the min, so a floor set
    * on a faster host rises proportionally on a slower one instead of
    * reading as ~8 phantom regressions (and a real regression can no
    * longer hide inside host speed). Once ANY run in the file carries
    * `cal_ms`, runs WITHOUT it (pre-r11) are skipped entirely: mixing
    * normalized and unnormalized medians in one min lets an old
    * fast-host floor win on a slower host and resurrect exactly the
    * false flags the calibration kills (r11 advice #3); a file with no
    * calibrated runs at all still contributes unscaled, as before.
    * None if no medians file exists. Caveat carried into the flagged
    * output: the calibration loop is single-thread CPU — a rough proxy
    * for shuffle/IO-bound query times, good for triage, not proof.
    */
  private def floors(calNow: Double): Option[(String, Map[String, Double])] = {
    val cwd = new java.io.File(".")
    val files = Option(cwd.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("BENCH_MEDIANS_r\\d+\\.json"))
    if (files.isEmpty) return None
    val newest = files.maxBy(f =>
      "\\d+".r.findFirstIn(f.getName).map(_.toInt).getOrElse(0))
    try {
      import org.json4s._
      val root = org.json4s.jackson.JsonMethods.parse(
        java.nio.file.Files.readString(newest.toPath))
      def num(v: JValue): Option[Double] = v match {
        // JInt too: a median that serialized as a JSON integer (e.g. 3)
        // would otherwise silently drop its query from the floor map
        case JDouble(d) => Some(d)
        case JInt(i) => Some(i.toDouble)
        case _ => None
      }
      val runsList = (root \ "runs") match {
        case JArray(rs) => rs
        case _ => Nil
      }
      val anyCalibrated = runsList.exists(r => num(r \ "cal_ms").exists(_ > 0))
      val perRun = for {
        run <- runsList
        calRun = num(run \ "cal_ms").filter(_ > 0)
        // once a calibrated run exists, uncalibrated ones are excluded
        // from the min (see Scaladoc) — can't be host-normalized
        if calRun.isDefined || !anyCalibrated
        scale = calRun match {
          case Some(c) if calNow > 0 => calNow / c
          case _ => 1.0
        }
        JObject(qs) <- run \ "queries"
        (name, v) <- qs
        sec <- num(v)
      } yield name -> sec * scale
      val fl = perRun.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
      Some((newest.getName, fl))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] floors unreadable from ${newest.getName}: ${e.getMessage}")
      None
    }
  }
}
