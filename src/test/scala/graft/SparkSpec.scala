package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, one session — specs must
  * not stop it).
  */
object SparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Flush the async listener bus, so every event of work already run
    * has been delivered. Listener events deliver asynchronously: under
    * full-suite load an earlier query's events can arrive after a
    * counter registers (or before it reads) — the exact flake a
    * backlogged bus produced in a 31-suite run. waitUntilEmpty() is
    * private[spark] (public bytecode), hence the reflective call.
    */
  def drainListenerBus(): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus")
      .invoke(spark.sparkContext)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .foreach(_.invoke(bus))
  }

  /** The number of Spark jobs `body` runs on this thread, counted
    * through a job group of its own once the listener bus has drained.
    */
  def jobsRun(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-run-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "job count", interruptOnCancel = false)
    try body finally sc.clearJobGroup()
    drainListenerBus()
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}
