package graft

import graft.functions.Lambert93
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

class Lambert93Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The latitude as builtin column math, fixed-point iteration unrolled —
    * the form q28 and q76 computed before the codegen'd kernel, kept here
    * as the independent reference the kernel must match bit for bit. */
  private def unrolledLatDeg(x: Column, y: Column): Column = {
    import Lambert93.{C, E, ITERS, N, XS, YS}
    val dx = x - lit(XS)
    val dy = y - lit(YS)
    val r = sqrt(dx * dx + dy * dy)
    val latIso = -log(r / lit(C)) / lit(N)
    var phi: Column = lit(2.0) * atan(exp(latIso)) - lit(math.Pi / 2)
    for (_ <- 1 to ITERS) {
      phi = lit(2.0) * atan(
        pow((lit(1.0) + lit(E) * sin(phi)) / (lit(1.0) - lit(E) * sin(phi)), lit(E / 2)) *
          exp(latIso)) - lit(math.Pi / 2)
    }
    phi * lit(180.0) / lit(math.Pi)
  }

  test("latitude kernel is bit-identical to the unrolled builtin expression, codegen and interpreted") {
    // q28's sf0.001 coordinates plus inputs the test tables never hold
    val q28 = Tables.events(spark, TestSpark.sf0001).select(
      lit(600000.0) + col("user_id") * lit(1000.0) + col("value"),
      lit(6600000.0) + col("value") * lit(1000.0)).collect().toSeq
    val pole = Row(Lambert93.XS, Lambert93.YS)
    val inf = Double.PositiveInfinity
    val edges = Seq(Row(null, 6600000.0), Row(700000.0, null), Row(null, null), pole,
      Row(Double.NaN, 6600000.0), Row(700000.0, Double.NaN),
      Row(inf, 6600000.0), Row(-inf, 6600000.0), Row(700000.0, inf), Row(700000.0, -inf),
      Row(-0.0, -0.0), Row(-0.0, 6600000.0), Row(700000.0, -0.0))
    val schema = StructType(Seq(StructField("x", DoubleType), StructField("y", DoubleType)))
    // an RDD relation, not a local one: the optimizer would evaluate a
    // projection over local rows on the driver and bypass the mode
    val df = spark.createDataFrame(spark.sparkContext.parallelize(q28 ++ edges, 2), schema)
    def bits(v: Any): Option[Long] =
      Option(v).map(d => java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double]))
    for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")) {
      val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage",
        "spark.sql.codegen.fallback")
      val old = keys.map(k => k -> spark.conf.getOption(k))
      Seq(mode, wholeStage, "false").zip(keys).foreach { case (v, k) => spark.conf.set(k, v) }
      try {
        val out = df.select(col("x"), col("y"),
          Lambert93.latDeg(col("x"), col("y")), unrolledLatDeg(col("x"), col("y")))
        val plan = out.queryExecution.executedPlan
        assert(plan.exists(_.isInstanceOf[
          org.apache.spark.sql.execution.WholeStageCodegenExec]) == (wholeStage == "true"),
          s"$mode: unexpected plan\n$plan")
        val rows = out.collect()
        assert(rows.length == q28.length + edges.length)
        rows.foreach { r =>
          assert(bits(r.get(2)) == bits(r.get(3)),
            s"$mode: (${r.get(0)}, ${r.get(1)}) kernel ${r.get(2)} vs builtin ${r.get(3)}")
        }
        val atPole = rows.filter(r => r.get(0) == pole.get(0) && r.get(1) == pole.get(1))
        assert(atPole.length == 1 && atPole.head.isNullAt(2), s"$mode: pole is not null")
        assert(rows.count(_.isNullAt(2)) == 4, s"$mode: null x/y rows and the pole only")
      } finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("natural origin inverts exactly: (700000, 6600000) → (3°E, 46.5°N)") {
    val (lon, lat) = Lambert93.inverse(700000.0, 6600000.0)
    assert(math.abs(lon - 3.0) < 1e-12)
    assert(math.abs(lat - 46.5) < 1e-12)
  }

  test("Paris: EPSG:2154 (652469.0227, 6862035.2594) → (2.3522°E, 48.8566°N)") {
    // fixture generated by the published IGN forward formulas (independent
    // of this inverse); matches epsg.io example values for Paris
    val (lon, lat) = Lambert93.inverse(652469.022709136, 6862035.25942008)
    assert(math.abs(lon - 2.3522) < 1e-9)
    assert(math.abs(lat - 48.8566) < 1e-9)
  }

  test("column expression matches the Scala reference implementation") {
    val df = Seq((652469.022709136, 6862035.25942008), (700000.0, 6600000.0),
      (652709.40, 6862059.34)).toDF("x", "y")
    val rows = df.select(
      Lambert93.lonDeg(col("x"), col("y")).as("lon"),
      Lambert93.latDeg(col("x"), col("y")).as("lat"),
      col("x"), col("y")).as[(Double, Double, Double, Double)].collect()
    rows.foreach { case (lon, lat, x, y) =>
      val (slon, slat) = Lambert93.inverse(x, y)
      assert(math.abs(lon - slon) < 1e-12, s"lon mismatch at ($x,$y)")
      assert(math.abs(lat - slat) < 1e-12, s"lat mismatch at ($x,$y)")
    }
  }

  test("output ranges are sane over a coordinate sweep (|lon|<180, |lat|<90)") {
    val pts = for (x <- 100000 to 1200000 by 100000; y <- 6100000 to 7100000 by 100000)
      yield (x.toDouble, y.toDouble)
    pts.foreach { case (x, y) =>
      val (lon, lat) = Lambert93.inverse(x, y)
      assert(math.abs(lon) < 180 && math.abs(lat) < 90, s"out of range at ($x,$y)")
      assert(lat > 40 && lat < 53, s"implausible France latitude $lat at ($x,$y)")
    }
  }

  test("calibration offsets preserved verbatim from the reference") {
    assert(Lambert93.CALIB_LON_OFFSET == -17.863636)
    assert(Lambert93.CALIB_LAT_OFFSET == -10.67772)
  }
}
