package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Lambert-93 (EPSG:2154, RGF93 / Lambert Conformal Conic) → WGS84 inverse
  * projection (SURVEY.md §2.8 X1; ref `R_groupe4.R:93-106` which delegates
  * to `sf::st_transform`).
  *
  * Implemented from the published IGN NTG_71 / Snyder LCC formulas — no
  * geo library dependency. Projection constants are the published EPSG:2154
  * values (GRS80 ellipsoid, secant parallels 44°/49°, origin 3°E 46.5°N,
  * false origin 700000/6600000):
  *
  *   n  = 0.7256077650532670   (cone constant)
  *   C  = 11754255.426096      (projection constant, m)
  *   xs = 700000.0, ys = 12655612.049876 (pole of projection, m)
  *   e  = 0.08181919104281579  (GRS80 first eccentricity, √0.00669438002290)
  *
  * Inverse: R = √((X−xs)² + (Y−ys)²), γ = atan2(X−xs, ys−Y),
  * λ = λ0 + γ/n, isometric latitude L = −ln(R/C)/n, then latitude by the
  * standard fixed-point iteration φ ← 2·atan(((1+e·sinφ)/(1−e·sinφ))^(e/2) ·
  * e^L) − π/2. Seven iterations converge to < 1e-12 rad (double-precision
  * floor); the count is fixed so the op sequence is reproducible verbatim
  * in SQL oracles. Longitude is a short builtin column expression; latitude
  * is ONE codegen'd Catalyst expression ([[Lambert93Latitude]]) over the
  * static [[latDegOfRatio]] loop, because the iteration spelled as builtin
  * columns uses φ twice per step and grows to thousands of expression nodes
  * that the optimizer has to walk on every query.
  */
object Lambert93 {
  val N: Double  = 0.7256077650532670
  val C: Double  = 11754255.426096
  val XS: Double = 700000.0
  val YS: Double = 12655612.049876
  val E: Double  = 0.08181919104281579
  val LON0_DEG: Double = 3.0
  val ITERS = 7

  /** Column expression: longitude in degrees from Lambert-93 (x, y) meters. */
  def lonDeg(x: Column, y: Column): Column = {
    val gamma = atan2(x - lit(XS), lit(YS) - y)
    // manual radian→degree conversion ((x/n)*180/π) so the op sequence is
    // reproducible verbatim in external SQL oracles (no engine-specific
    // `degrees` implementation variance)
    lit(LON0_DEG) + gamma / lit(N) * lit(180.0) / lit(math.Pi)
  }

  /** Column expression: latitude in degrees from Lambert-93 (x, y) meters;
    * null at the pole of projection, where `ln(R/C)` is undefined. */
  def latDeg(x: Column, y: Column): Column =
    ColumnBridge.column(Lambert93Latitude(
      ColumnBridge.expression(x), ColumnBridge.expression(y)))

  /** R/C, the argument of the isometric-latitude logarithm. */
  def poleRatio(x: Double, y: Double): Double = {
    val dx = x - XS
    val dy = y - YS
    java.lang.Math.sqrt(dx * dx + dy * dy) / C
  }

  /** Latitude in degrees from R/C. The calls are the ones Spark's generated
    * code makes for the builtin `sqrt`/`ln`/`exp`/`atan`/`sin`/`pow`
    * (java.lang.Math for sqrt, atan and sin; StrictMath for log, exp and
    * pow), in the same order, so the result is bit-identical to the column
    * math the oracle SQL spells out. `ratio <= 0` (the pole) gives 90°; the
    * expression returns null there instead, as Spark's `ln` does. */
  def latDegOfRatio(ratio: Double): Double = {
    val latIso = -StrictMath.log(ratio) / N
    val halfPi = math.Pi / 2
    var phi = 2.0 * java.lang.Math.atan(StrictMath.exp(latIso)) - halfPi
    var i = 0
    while (i < ITERS) {
      phi = 2.0 * java.lang.Math.atan(
        StrictMath.pow((1.0 + E * java.lang.Math.sin(phi)) / (1.0 - E * java.lang.Math.sin(phi)),
          E / 2) * StrictMath.exp(latIso)) - halfPi
      i += 1
    }
    phi * 180.0 / math.Pi
  }

  /** Plain-Scala (lon, lat) for unit-test fixtures and driver-side spot
    * checks; the latitude is the expression's own scalar function. */
  def inverse(x: Double, y: Double): (Double, Double) = {
    val gamma = math.atan2(x - XS, YS - y)
    val lon = LON0_DEG + math.toDegrees(gamma / N)
    (lon, latDegOfRatio(poleRatio(x, y)))
  }

  /** The reference's manual map-calibration offsets (ref `R_groupe4.R:103-104`
    * — preserved verbatim for output parity). */
  val CALIB_LON_OFFSET: Double = -17.863636
  val CALIB_LAT_OFFSET: Double = -10.67772
}

/** Lambert-93 latitude in degrees of (x, y): inputs cast to DOUBLE (the SQL
  * function receives DECIMAL literals), null when either input is null or
  * at the pole (R/C ≤ 0, where Spark's `ln` is null), NaN propagates.
  * `doGenCode` calls the static scalar functions, so the kernel stays
  * inside whole-stage codegen. */
case class Lambert93Latitude(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(DoubleType, DoubleType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override protected def nullSafeEval(x: Any, y: Any): Any = {
    val ratio = Lambert93.poleRatio(x.asInstanceOf[Double], y.asInstanceOf[Double])
    if (ratio <= 0.0) null else Lambert93.latDegOfRatio(ratio)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val ratio = ctx.freshName("ratio")
      s"""double $ratio = graft.functions.Lambert93.poleRatio($x, $y);
         |if ($ratio <= 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.Lambert93.latDegOfRatio($ratio);
         |}""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Lambert93Latitude =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "lambert93_lat"
}
