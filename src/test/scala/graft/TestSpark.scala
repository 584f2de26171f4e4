package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBus

/** One SparkSession for the whole test JVM (forked by sbt). */
object TestSpark {
  /** The production conf at 4 cores, except that ObjectHashAggregate keeps
    * Spark's default fallback of 128 keys, so the suite still exercises the
    * sort-based fallback path. */
  val conf: Seq[(String, String)] = Seq(
    "spark.app.name" -> "graft-tests",
    "spark.sql.warehouse.dir" -> "/tmp/graft-test-warehouse",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "128")

  lazy val spark: SparkSession = Session.local(4, conf: _*)
  val sf0001 = "/root/testdata/sf0.001"

  /** Spark jobs launched while `f` runs. The listener bus is drained before
    * the listener is added (no earlier job leaks in) and before it is read
    * (no job of `f` is missed). */
  def jobsDuring(f: => Any): Int = {
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try { f; ListenerBus.drain(sc); jobs.get }
    finally sc.removeSparkListener(listener)
  }
}
