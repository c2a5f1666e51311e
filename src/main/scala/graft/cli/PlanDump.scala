package graft.cli

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` of catalog queries to files — the plan
  * artifacts the optimization rounds commit (`plans/r13/<q>_before.txt`).
  * Usage: `PlanDump <outDir> <suffix> <name1,name2,...>` (name substrings,
  * same matching as Bench/Verify). Same session shape as Bench so the
  * captured plan is the one the bench times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (outDir, suffix, names) = args match {
      case Array(o, s, n) => (o, s, n)
      case _ => throw new IllegalArgumentException(
        "usage: PlanDump <outDir> <suffix> <name,name,...>")
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    val wanted = names.split(',').toSeq
    graft.SparkEntry.queries.filter(e => wanted.exists(e._1.contains))
      .foreach { case (name, fn) =>
        try graft.GraftStorage.withTracked(spark) {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          Files.writeString(Paths.get(outDir, s"$name$suffix.txt"), plan)
          println(s"[plandump] wrote $outDir/$name$suffix.txt")
        }
        catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
