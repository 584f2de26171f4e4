package graft

import graft.metrics.QueryMetrics
import org.apache.spark.sql.SparkSession

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

  /** Spark jobs launched while `f` runs. */
  def jobsDuring(f: => Any): Int = QueryMetrics.measure(spark)(f).jobs

  /** Runs `body` with the session confs `kvs` set, restoring them after. */
  def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
