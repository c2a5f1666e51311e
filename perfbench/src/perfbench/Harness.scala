package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GraftStorage, SparkEntry}
import graft.ops.{Report, TextClean, TweetGraphPipeline}
import graft.tweets.TweetSchema
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** The benchmark's Spark process: one workload, in one local session.
  *
  * {{{
  * Harness --workload tweets_e2e|catalog --input <file|dir> --out <dir>
  *   --seconds S --trace 0|1 [--min-passes N] [--warmup N] [--neighbour ID]
  *   [--rows q1,q2,...]
  * }}}
  *
  * Set-up is session start plus `--warmup` untimed passes. Timed passes
  * then repeat while the next is expected to end within `--seconds`, and
  * at least `--min-passes` run. After every pass the blocks the library
  * pinned and Spark's own cache are released, so each pass pays what a
  * user pays. The run record (times, hashes,
  * spans, counts) is written to `<out>/record.json`; the calling script
  * checks outputs and reduces the record to metrics.
  *
  * With `--trace 1`, timed passes alternate between an untraced pass and
  * a traced one (listeners on, bus drained at span boundaries), ending
  * with an untraced one, so the tracing overhead is measured in the same
  * process; a tweets run adds a layer pass that materializes each layer
  * on cached inputs.
  */
object Harness {
  final case class Args(workload: String = "", input: String = "", out: String = "",
                        seconds: Double = 10, trace: Boolean = false, minPasses: Int = 2,
                        neighbour: String = "", rows: Seq[String] = Nil, warmup: Int = 1)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--input" :: v :: t => parse(t, a.copy(input = v))
    case "--out" :: v :: t => parse(t, a.copy(out = v))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--min-passes" :: v :: t => parse(t, a.copy(minPasses = v.toInt))
    case "--neighbour" :: v :: t => parse(t, a.copy(neighbour = v))
    case "--rows" :: v :: t => parse(t, a.copy(rows = v.split(',').toSeq))
    case "--warmup" :: v :: t => parse(t, a.copy(warmup = v.toInt))
    case bad => sys.error(s"unrecognized arguments: ${bad.mkString(" ")}")
  }

  private val cores = Runtime.getRuntime.availableProcessors

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** What one pass did: per-operation times and output hashes. */
  final class Pass(val tracer: Tracer, val dir: String) {
    val ops = mutable.LinkedHashMap.empty[String, (Double, Double)]
    val hashes = mutable.LinkedHashMap.empty[String, String]
    val failed = mutable.ArrayBuffer.empty[String]
    /** Results kept for the oracle comparison, written after timing. */
    val kept = mutable.LinkedHashMap.empty[String, DataFrame]
    var wall = 0.0
    var heapMb = 0.0
    var blocksLeft = 0

    /** Time one operation; a throw marks it failed instead of aborting. */
    def op(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      try {
        tracer.span(s"op.$name")(body)
        ops(name) = (0.0, (System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable => fail(name, e) }
    }

    def fail(name: String, e: Throwable): Unit = {
      failed += name
      System.err.println(s"[perfbench] $name failed: ${String.valueOf(e.getMessage).take(500)}")
    }
  }

  trait Workload {
    /** One full pass writing into `out`. */
    def pass(spark: SparkSession, out: String, p: Pass, keep: Boolean): Unit
    /** Extra per-layer timing pass (traced runs only). */
    def layers(spark: SparkSession, out: String, t: Tracer): Unit = ()
  }

  /** The paper's run, as `cli.Main` does it with every output on. */
  final class Tweets(input: String, id: String) extends Workload {
    def pass(spark: SparkSession, out: String, p: Pass, keep: Boolean): Unit = {
      val t = p.tracer
      val tweets = t.span("tweets.read")(TweetSchema.read(spark, input))
      val g = t.span("ops.pipeline")(TweetGraphPipeline.build(tweets))
      p.op("wordcloud")(TextClean.save(TextClean.wordcloudText(tweets), out))
      p.op("full_graph")(g.full.save(s"$out/gFull", "g"))
      p.op("report")(Report.save(g.report, out))
      p.op("neighbours")(g.neighbours(id).save(s"$out/id_neighbours_$id", "id"))
    }

    /** Each layer called and consumed on its own, its inputs cached, so a
      * span holds that layer's work only. */
    override def layers(spark: SparkSession, out: String, t: Tracer): Unit = {
      import graft.ops.{HashtagGraph, JaccardGraph, Neighbours, RetweetGraph}
      def done(df: DataFrame): Long = df.persist().count()
      val tweets = TweetSchema.read(spark, input)
      t.span("tweets.scan")(done(tweets))
      t.span("ops.retweet")(done(RetweetGraph(tweets).edges))
      val tags = t.span("ops.hashtag") {
        val (ht, tags) = HashtagGraph(tweets)
        done(tags); done(ht.edges)
        tags
      }
      t.span("ops.jaccard")(done(JaccardGraph(tags).edges))
      val g = TweetGraphPipeline.build(tweets)
      t.span("graph.save")(g.full.save(s"$out/gFull", "g"))
      t.span("ops.report")(Report.save(Report.build(g.userTags, g.retweet.edges, g.jaccard.edges), out))
      t.span("ops.neighbours")(Neighbours.extract(g.full, id).save(s"$out/id_neighbours_$id", "id"))
      t.span("ops.wordcloud")(TextClean.save(TextClean.wordcloudText(tweets), out))
    }
  }

  /** Query-catalog rows, each built by its `SparkEntry.queries` function
    * and consumed by collecting its rows. With `keep`, the collected rows
    * are kept for the oracle comparison. */
  final class Catalog(dir: String, rows: Seq[String]) extends Workload {
    def pass(spark: SparkSession, out: String, p: Pass, keep: Boolean): Unit =
      rows.foreach { name =>
        val t = p.tracer
        try GraftStorage.withTracked(spark) {
          val t0 = System.nanoTime()
          val (df, t1, result) = t.span(s"row.$name") {
            val df = t.span(s"row.$name.build")(SparkEntry.queries(name)(spark, dir))
            val t1 = System.nanoTime()
            (df, t1, t.span(s"row.$name.consume")(df.collect()))
          }
          p.ops(name) = ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
          p.hashes(name) = digest(result.iterator.map(_.toString).toSeq.sorted)
          if (keep) p.kept(name) = spark.createDataFrame(result.toSeq.asJava, df.schema)
        } catch { case e: Throwable => p.fail(name, e) }
      }
  }

  def digest(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Release everything the pass cached; returns the persisted RDDs the
    * library's own release left behind. */
  private def release(spark: SparkSession): Int = {
    GraftStorage.clear(spark)
    val left = spark.sparkContext.getPersistentRDDs.size
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    left
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val workload: Workload = a.workload match {
      case "tweets_e2e" => new Tweets(a.input, a.neighbour)
      case "catalog" => new Catalog(a.input, a.rows)
      case w => sys.error(s"unknown workload $w")
    }
    Files.createDirectories(Paths.get(a.out))
    HeapWatch.install()
    var passNo = 0
    def runPass(spark: SparkSession, t: Tracer, keep: Boolean = false): Pass = {
      val p = new Pass(t, s"pass-$passNo")
      passNo += 1
      HeapWatch.reset()
      val t0 = System.nanoTime()
      t.span("pass")(workload.pass(spark, s"${a.out}/${p.dir}", p, keep))
      p.wall = (System.nanoTime() - t0) / 1e9
      p.blocksLeft = release(spark)
      p.heapMb = HeapWatch.peakMb()
      p
    }

    val t0 = System.nanoTime()
    val spark = session()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val plain = new Tracer(spark, listen = false)
    (1 to a.warmup).foreach(_ => runPass(spark, plain))
    val setupS = (System.nanoTime() - t0) / 1e9
    val passes = mutable.ArrayBuffer.empty[(Boolean, Pass)]
    val spans = mutable.ArrayBuffer.empty[Span]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    def untraced = passes.count(!_._1)
    // a round is expected to take as long as the last one: stop before one
    // would end past `--seconds`, so a run's length stays within budget
    var round = 0.0
    while (untraced < a.minPasses || (elapsed + round <= a.seconds && untraced < 200)) {
      val r0 = System.nanoTime()
      passes += ((false, runPass(spark, plain, keep = passes.isEmpty)))
      if (a.trace) {
        val t = new Tracer(spark, listen = true)
        passes += ((true, runPass(spark, t)))
        t.span("layers")(workload.layers(spark, s"${a.out}/layers-$passNo", t))
        release(spark)
        t.detach()
        spans ++= t.spans
      }
      round = (System.nanoTime() - r0) / 1e9
    }
    // a closing untraced pass brackets the traced ones, so the warm-up
    // trend cancels out of the tracing overhead
    if (a.trace) passes += ((false, runPass(spark, plain)))

    passes.foreach { case (_, p) =>
      p.kept.foreach { case (name, df) =>
        df.coalesce(1).write.parquet(s"${a.out}/${p.dir}/$name")
      }
    }
    val record = JObject(
      "workload" -> JString(a.workload),
      "cores" -> JInt(cores),
      "session_s" -> JDouble(sessionS),
      "setup_s" -> JDouble(setupS),
      "passes" -> JArray(passes.map { case (tr, p) =>
        JObject(
          "dir" -> JString(p.dir),
          "traced" -> JBool(tr),
          "wall_s" -> JDouble(p.wall),
          "heap_peak_mb" -> JDouble(p.heapMb),
          "blocks_left" -> JInt(p.blocksLeft),
          "failed" -> JArray(p.failed.map(JString(_)).toList),
          "ops" -> JObject(p.ops.map { case (k, (b, c)) =>
            k -> JObject("build_s" -> JDouble(b), "consume_s" -> JDouble(c))
          }.toList),
          "hashes" -> JObject(p.hashes.map { case (k, v) => k -> JString(v) }.toList))
      }.toList),
      "spans" -> JArray(spans.map(spanJson).toList),
      "oracle_sql" -> JObject(a.rows.flatMap(r =>
        SparkEntry.oracleSql.get(r).map(r -> JString(_))).toList))
    Files.writeString(Paths.get(s"${a.out}/record.json"), compact(render(record)))
    spark.stop()
  }

  private def spanJson(s: Span): JValue = JObject(
    "name" -> JString(s.name),
    "s" -> JDouble(s.seconds),
    "self_s" -> JDouble(s.selfSeconds),
    "counts" -> JObject(s.counts.map { case (k, v) => k -> JDouble(v) }.toList),
    "operators" -> JObject(s.operators.map { case (k, v) => k -> JDouble(v) }.toList),
    "children" -> JArray(s.children.map(spanJson).toList))
}
