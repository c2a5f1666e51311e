package graft

import graft.cli.Main

/** Golden tests for the CLI argument surface (`cli/Main.parse`) against the
  * reference's argparse definition (reference `main.py:28-40`) — including
  * its exact flag spellings, the snake_case forms, the `retweetted`
  * double-t typo, and the `--no-*` negative forms that
  * `argparse.BooleanOptionalAction` generates — and one full run of all
  * four outputs on the golden fixture.
  */
class CliSpec extends SparkTestBase {

  test("reference command line parses verbatim, including the retweetted typo") {
    // exactly as a reference user would type it (main.py:38 spells the
    // flag --only_tags_from_not_retweetted_posts)
    val a = Main.parse(Array(
      "tweets.jsonl",
      "--output_path", "out",
      "--save_full_graph",
      "--save_pbi_report",
      "--save_word_cloud",
      "--only_tags_from_not_retweetted_posts",
      "--jaccard_threshold", "0.25"))
    assert(a.inputFile == "tweets.jsonl")
    assert(a.outputPath == "out")
    assert(a.saveFullGraph && a.savePbiReport && a.saveWordCloud)
    assert(a.onlyTagsFromNotRetweetedPosts)
    assert(a.jaccardThreshold == 0.25)
  }

  test("corrected single-t spelling and dashed forms also parse") {
    val a = Main.parse(Array("t.jsonl", "--only-tags-from-not-retweeted-posts"))
    assert(a.onlyTagsFromNotRetweetedPosts)
  }

  test("BooleanOptionalAction --no-* forms negate, last one wins") {
    val a = Main.parse(Array(
      "t.jsonl",
      "--save_full_graph", "--no-save_full_graph",
      "--no-save_word_cloud", "--save_word_cloud",
      "--only_tags_from_not_retweetted_posts",
      "--no-only_tags_from_not_retweetted_posts"))
    assert(!a.saveFullGraph)
    assert(a.saveWordCloud)
    assert(!a.onlyTagsFromNotRetweetedPosts)
  }

  test("defaults match the reference's argparse defaults") {
    val a = Main.parse(Array("t.jsonl"))
    assert(!a.saveFullGraph && !a.savePbiReport && !a.saveWordCloud)
    assert(!a.onlyTagsFromNotRetweetedPosts)
    assert(a.jaccardThreshold == 0.5)
    assert(a.idNeighbours.isEmpty)
  }

  test("second positional is rejected like argparse") {
    val e = intercept[RuntimeException](Main.parse(Array("a.jsonl", "b.jsonl")))
    assert(e.getMessage.contains("unrecognized arguments"))
  }

  test("missing input file is rejected") {
    intercept[IllegalArgumentException](Main.parse(Array("--save_full_graph")))
  }

  test("run writes all four outputs on the golden fixture and keeps the session") {
    val out = java.nio.file.Files.createTempDirectory("cli").toString
    Main.run(spark, Main.parse(Array("src/test/resources/tweets.jsonl",
      "--output-path", out, "--save-full-graph", "--save-pbi-report",
      "--save-word-cloud", "--id-neighbours", "1")))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    def rowsIn(dir: String, sep: String = ",") =
      spark.read.option("header", "true").option("sep", sep).csv(s"$out/$dir").count()
    assert(rowsIn("gFull/g.edges.csv") === 8)
    assert(rowsIn("gFull/g.vertices.csv") === 7)
    assert(rowsIn("exportPowerBI", ";") === 3)
    assert(rowsIn("id_neighbours_1/id.edges.csv") === 5)
    assert(rowsIn("id_neighbours_1/id.vertices.csv") === 6)
    assert(rowsIn("wordCloud") === 6)
    assert(!spark.sparkContext.isStopped)
  }
}
