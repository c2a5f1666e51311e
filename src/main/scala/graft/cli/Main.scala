package graft.cli

import graft.GraftStorage
import graft.ops.{TextClean, TweetGraphPipeline}
import graft.tweets.TweetSchema
import org.apache.spark.sql.SparkSession

/** CLI mirroring the reference's `main.py:14-75` surface:
  *
  * {{{
  * run input.jsonl [--output-path P] [--id-neighbours ID]
  *   [--save-full-graph] [--save-pbi-report] [--save-word-cloud]
  *   [--only-tags-from-not-retweeted-posts] [--jaccard-threshold T]
  *   [--stem-word-cloud]
  * }}}
  *
  * `--stem-word-cloud` is an EXTENSION over the reference surface: Porter-
  * stems the word-cloud tokens ([[TextClean.stemmedCleanExpr]]) — the
  * closest JVM stand-in for the reference's spaCy lemmatization. Off by
  * default so the default output stays golden-pinned.
  */
object Main {

  final case class Args(
      inputFile: String = "",
      outputPath: String = "outputs",
      idNeighbours: Option[String] = None,
      saveFullGraph: Boolean = false,
      savePbiReport: Boolean = false,
      saveWordCloud: Boolean = false,
      onlyTagsFromNotRetweetedPosts: Boolean = false,
      jaccardThreshold: Double = 0.5,
      stemWordCloud: Boolean = false)

  def parse(argv: Array[String]): Args = {
    // the reference's argparse surface spells flags snake_case
    // (--output_path, --id_neighbours, ...); accept both spellings by
    // normalizing '_' → '-' inside flag tokens before matching, so
    // invocations written against the reference keep working verbatim
    def norm(tok: String) = if (tok.startsWith("--")) tok.replace('_', '-') else tok
    def loop(rest: List[String], acc: Args): Args = rest match {
      case Nil => acc
      case "--output-path" :: v :: t => loop(t, acc.copy(outputPath = v))
      case "--id-neighbours" :: v :: t => loop(t, acc.copy(idNeighbours = Some(v)))
      case "--save-full-graph" :: t => loop(t, acc.copy(saveFullGraph = true))
      case "--save-pbi-report" :: t => loop(t, acc.copy(savePbiReport = true))
      case "--save-word-cloud" :: t => loop(t, acc.copy(saveWordCloud = true))
      // the reference's actual flag carries a double-t typo
      // (`--only_tags_from_not_retweetted_posts`, main.py:38); accept both
      // its spelling and the corrected one
      case ("--only-tags-from-not-retweeted-posts" |
            "--only-tags-from-not-retweetted-posts") :: t =>
        loop(t, acc.copy(onlyTagsFromNotRetweetedPosts = true))
      // the reference declares its booleans with argparse's
      // BooleanOptionalAction (main.py:31-38), which also generates
      // `--no-<flag>` negative forms — accept them so any verbatim
      // reference command line parses
      case "--no-save-full-graph" :: t => loop(t, acc.copy(saveFullGraph = false))
      case "--no-save-pbi-report" :: t => loop(t, acc.copy(savePbiReport = false))
      case "--no-save-word-cloud" :: t => loop(t, acc.copy(saveWordCloud = false))
      case ("--no-only-tags-from-not-retweeted-posts" |
            "--no-only-tags-from-not-retweetted-posts") :: t =>
        loop(t, acc.copy(onlyTagsFromNotRetweetedPosts = false))
      case "--jaccard-threshold" :: v :: t => loop(t, acc.copy(jaccardThreshold = v.toDouble))
      case "--stem-word-cloud" :: t => loop(t, acc.copy(stemWordCloud = true))
      case f :: t if !f.startsWith("--") =>
        // argparse rejects a second positional; silently overwriting the
        // first would run the pipeline on the wrong file
        if (acc.inputFile.nonEmpty)
          sys.error(s"unrecognized arguments: $f (input file already set to ${acc.inputFile})")
        loop(t, acc.copy(inputFile = f))
      case bad => sys.error(s"unrecognized arguments: ${bad.mkString(" ")}")
    }
    val a = loop(argv.toList.map(norm), Args())
    require(a.inputFile.nonEmpty, "input_file is required")
    a
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val builder = SparkSession.builder()
      .appName("graft")
      .config("spark.sql.session.timeZone", "UTC")
    // under spark-submit the master comes in via spark.master; standalone
    // runs (sbt runMain, tests) default to all local cores
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master("local[*]")).getOrCreate()
    try run(spark, args) finally spark.stop()
  }

  /** The pipeline on `spark`, writing the outputs `args` ask for. The
    * session is left running, with the blocks the pipeline pinned
    * released.
    */
  def run(spark: SparkSession, args: Args): Unit = GraftStorage.withTracked(spark) {
    println(s"Starting the processing of the file: ${args.inputFile}")
    val tweets = TweetSchema.read(spark, args.inputFile)
    val g = TweetGraphPipeline.build(tweets, args.jaccardThreshold,
      args.onlyTagsFromNotRetweetedPosts)

    if (args.saveWordCloud) {
      println("Saving word cloud")
      if (args.stemWordCloud) graft.functions.VectorFunctions.register(spark)
      TextClean.save(TextClean.wordcloudText(tweets, stemmed = args.stemWordCloud),
        args.outputPath)
    }
    if (args.saveFullGraph) {
      println("Saving full graph")
      g.full.save(s"${args.outputPath}/gFull", "g")
    }
    if (args.savePbiReport) {
      println("Saving Power BI report")
      graft.ops.Report.save(g.report, args.outputPath)
    }
    args.idNeighbours.foreach { id =>
      println(s"Saving neighbours of node id=$id")
      g.neighbours(id).save(s"${args.outputPath}/id_neighbours_$id", "id")
    }
    println(s"Elaboration completed.\nOutput path: ${args.outputPath}")
  }
}
