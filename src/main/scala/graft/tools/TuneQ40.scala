package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** q40 sketch-aggregate A/B probe (r17): isolates which component of the
  * one-pass sketch aggregate (2× HLL rsd 0.005, GK accuracy 10000) costs
  * the 3-task stage its CPU, and what a fixed-width repartition does to
  * each. Run: runMain graft.tools.TuneQ40 <sfDir>. */
object TuneQ40 {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val li = graft.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    def time(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"[tune] $name%-24s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }
    li.agg(count(lit(1))).collect() // warm the scan
    val hlls = Seq(approx_count_distinct(col("l_orderkey"), 0.005),
      approx_count_distinct(col("l_partkey"), 0.005))
    val gk = expr("percentile_approx(l_quantity, array(0.25,0.5,0.75), 10000)")
    val ds = Seq(
      hll_sketch_estimate(hll_sketch_agg(col("l_orderkey"), lit(14))).as("dso"),
      hll_sketch_estimate(hll_sketch_agg(col("l_partkey"), lit(14))).as("dsp"))
    time("ds-hll2 first")(println("  est: " +
      li.agg(ds.head, ds(1)).collect().head))
    for (pass <- 1 to 2) {
      time(s"p$pass ds-hll2")(li.agg(ds.head, ds(1)).collect())
      time(s"p$pass ds-hll2+gk")(li.agg(ds.head, ds(1), gk).collect())
      time(s"p$pass hll2")(li.agg(hlls.head, hlls(1)).collect())
      time(s"p$pass gk")(li.agg(gk).collect())
      time(s"p$pass hll2+gk")(li.agg(hlls.head, hlls(1), gk).collect())
      time(s"p$pass hll2+gk rep64")(
        li.repartition(64, col("l_orderkey")).agg(hlls.head, hlls(1), gk).collect())
      time(s"p$pass hll2 rep64")(
        li.repartition(64, col("l_orderkey")).agg(hlls.head, hlls(1)).collect())
      time(s"p$pass gk rep64")(
        li.repartition(64, col("l_orderkey")).agg(gk).collect())
    }
    spark.stop()
  }
}
