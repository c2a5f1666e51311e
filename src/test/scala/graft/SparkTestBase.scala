package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

/** One shared local session across all suites (startup dominates runtime). */
object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    s.sparkContext.setLogLevel("WARN")
    graft.functions.VectorFunctions.register(s)
    s
  }

  /** `(action name, executed plan)` of every SQL action `body` runs on
    * `spark`, in order. Listener events arrive asynchronously but in
    * order, so a marker action on each side of `body` fences off the
    * events of earlier and later actions.
    */
  def actionsDuring(body: => Unit): Seq[(String, SparkPlan)] = {
    val seen = new LinkedBlockingQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit = seen.put(name -> qe)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val marker = "marker_" + java.util.UUID.randomUUID().toString.replace('-', '_')
    /** Runs the marker action; returns the events up to it, itself excluded. */
    def fence(): Seq[(String, QueryExecution)] = {
      spark.range(1).toDF(marker).collect()
      Iterator.continually(seen.poll(30, TimeUnit.SECONDS))
        .map { e => assert(e != null, "the marker action's listener event never arrived"); e }
        .takeWhile { case (_, qe) => qe.analyzed.output.map(_.name) != Seq(marker) }
        .toList
    }
    spark.listenerManager.register(listener)
    try {
      fence()
      body
      fence().map { case (name, qe) => name -> qe.executedPlan }
    } finally spark.listenerManager.unregister(listener)
  }
}
