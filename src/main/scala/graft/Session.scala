package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: Bench, Verify, every tool and the
  * test suite share this conf, so they run the same engine.
  *
  * `local(cpus, pairs*)` applies, later entries winning: the engine
  * defaults ([[defaults]]), then the caller's `pairs`, then
  * `SPARK_GRAFT_EXTRA_CONF` — comma-separated `key=value` Spark confs
  * applied at session creation so core (non-SQL) confs work too, e.g.
  *   SPARK_GRAFT_EXTRA_CONF="spark.driver.maxResultSize=8g"
  * Values must not contain ','; a malformed entry fails loudly here
  * instead of an opaque index error at session build. */
object Session {

  /** Local core count: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def defaults(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.ui.enabled" -> "false",
    // ObjectHashAggregate falls back to sort-based after this many
    // DISTINCT KEYS per task (default 128 — sized for collect_list-style
    // unbounded buffers). This engine's OWN typed aggregates
    // (arg_min/max_by, min_str/max_str, SpaceSaving, Bloom, MinHash)
    // all have O(1) fixed-width buffers, so their high-cardinality
    // groups (chunk dedup, per-user CDC, LSH pairs) can stay hashed:
    // 1M keys ≈ tens of MB per task. The threshold is GLOBAL though,
    // and ~a dozen queries use builtin collect_list/collect_set whose
    // buffers grow with group size — those groupings are all bounded
    // (per-order lines, per-user small sessions, top-k survivors), and
    // the r14 fb128-vs-fb1M A/B on the unbounded-buffer family
    // (q45/q58/q61/q63/q65, BASELINE.md) measured no regression at
    // sf0.1 or sf1 — but an UNBOUNDED grouping added later must not
    // inherit 1M silently: at 1M resident growing arrays per task this
    // conf is an OOM risk, so new collect_* call sites need a bounded-
    // group argument in their scaladoc. Overridable via
    // SPARK_GRAFT_EXTRA_CONF.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1048576")

  /** `SPARK_GRAFT_EXTRA_CONF`'s format, parsed from `spec`. */
  def parseExtraConf(spec: String): Seq[(String, String)] =
    spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { e =>
      val kv = e.split("=", 2)
      require(kv.length == 2 && kv(0).nonEmpty,
        s"SPARK_GRAFT_EXTRA_CONF entry '$e' is not key=value")
      // every legitimate conf key is spark.*; a fragment of a
      // comma-containing VALUE that happens to carry '=' would
      // otherwise be applied silently as a bogus key=value pair
      require(kv(0).startsWith("spark."),
        s"SPARK_GRAFT_EXTRA_CONF entry '$e' does not look like a Spark " +
          "conf (key must start with 'spark.') — a comma inside a conf " +
          "value is not expressible in this format")
      kv(0) -> kv(1)
    }

  /** The conf `local` builds with, as a value: `extraConf` stands for
    * the `SPARK_GRAFT_EXTRA_CONF` string. */
  def conf(cpus: Int, pairs: Seq[(String, String)],
           extraConf: String): Map[String, String] =
    defaults(cpus) ++ pairs ++ parseExtraConf(extraConf)

  def local(cpus: Int, pairs: (String, String)*): SparkSession = {
    val spark = conf(cpus, pairs, sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", ""))
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
