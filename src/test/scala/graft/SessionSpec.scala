package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory's conf, checked as a value: no test here builds a
  * second SparkContext. */
class SessionSpec extends AnyFunSuite {
  private val fallback = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  test("production conf: partitions = cpus, 1M fallback, AQE, UTC, extensions, UI off") {
    val c = Session.conf(8, Nil, "")
    assert(c == Map(
      "spark.master" -> "local[8]",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.ui.enabled" -> "false",
      fallback -> "1048576"))
  }

  test("TestSpark's conf: 4 partitions, Spark's default fallback of 128") {
    val c = Session.conf(4, TestSpark.conf, "")
    assert(c == Session.defaults(4) ++ Map(
      "spark.app.name" -> "graft-tests",
      "spark.sql.warehouse.dir" -> "/tmp/graft-test-warehouse",
      fallback -> "128"))
    // the suite's one live session runs that conf
    val live = TestSpark.spark.conf
    assert(live.get("spark.sql.shuffle.partitions") == "4")
    assert(live.get(fallback) == "128")
  }

  test("caller pairs override the defaults, SPARK_GRAFT_EXTRA_CONF overrides both") {
    val pairs = Seq(fallback -> "128", "spark.sql.shuffle.partitions" -> "2",
      "spark.graft.test.only" -> "caller")
    val callerOnly = Session.conf(4, pairs, "")
    assert(callerOnly(fallback) == "128")
    assert(callerOnly("spark.sql.shuffle.partitions") == "2")
    assert(callerOnly("spark.graft.test.only") == "caller")
    val c = Session.conf(4, pairs,
      s" $fallback=7 ,, spark.sql.shuffle.partitions=16,spark.driver.extraJavaOptions=-Da=b ")
    assert(c(fallback) == "7")
    assert(c("spark.sql.shuffle.partitions") == "16")
    assert(c("spark.graft.test.only") == "caller")
    // the value keeps everything after the first '='
    assert(c("spark.driver.extraJavaOptions") == "-Da=b")
    assert(c("spark.master") == "local[4]")
  }

  test("malformed SPARK_GRAFT_EXTRA_CONF entries fail with their messages") {
    val noEq = intercept[IllegalArgumentException](Session.parseExtraConf("spark.a=1,oops"))
    assert(noEq.getMessage ==
      "requirement failed: SPARK_GRAFT_EXTRA_CONF entry 'oops' is not key=value")
    val emptyKey = intercept[IllegalArgumentException](Session.parseExtraConf("=1"))
    assert(emptyKey.getMessage ==
      "requirement failed: SPARK_GRAFT_EXTRA_CONF entry '=1' is not key=value")
    // a comma inside a value splits off a fragment that is not a spark.* key
    val comma = intercept[IllegalArgumentException](
      Session.parseExtraConf("spark.driver.extraJavaOptions=-Da=1,b=2"))
    assert(comma.getMessage ==
      "requirement failed: SPARK_GRAFT_EXTRA_CONF entry 'b=2' does not look like " +
        "a Spark conf (key must start with 'spark.') — a comma inside a conf " +
        "value is not expressible in this format")
    assert(Session.parseExtraConf("") == Nil)
  }
}
