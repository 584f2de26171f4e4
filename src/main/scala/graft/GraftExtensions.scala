package graft

import graft.functions.{ArgMinBy, MinHashSig, MinHashSigP61, SimHash64, SimHash64Md5, TitleCase}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: registers the engine's custom
  * expressions as SQL functions, so
  * `spark.sql.extensions=graft.GraftExtensions` (which [[graft.Session]]
  * sets) or `withExtensions(new GraftExtensions)` on a session builder
  * exposes them to pure-SQL users:
  *
  *   title_case(s)             — str_to_title-compatible casing
  *   nfc_normalize(s)          — Unicode NFC canonicalization
  *   simhash64(tokens)         — 64-bit SimHash of array<string>
  *   minhash_sig(tokens, k, n) — MinHash signature array<long>
  *   simhash64_md5(tokens)         — oracle-replayable md5 SimHash
  *   minhash_sig_p61(tokens, k, n) — oracle-replayable md5/mod-p MinHash
  *   winnow_fingerprint_p61(tokens, k, w) — winnowing (MOSS) fingerprints
  *   arg_min_by(p, d, t)       — hash-aggregable argmin aggregate
  *   arg_max_by(p, d, t)         (and argmax); a BIGINT or other integral
  *                               `d` orders exactly, also above 2^53
  *   lambert93_to_wgs84(x, y)  — struct(lon, lat) inverse reprojection
  *                               (SURVEY.md §4 X1-as-FunctionBuilder)
  *   dot_d(a, b)               — tight-loop double-array dot product
  *   norm_d(a)                 — tight-loop double-array L2 norm
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // Optimizer rule: rescue min_by-over-struct from SortAggregate (see
    // graft.rules.RewriteMinByStruct scaladoc).
    e.injectOptimizerRule(_ => graft.rules.RewriteMinByStruct)
    e.injectFunction((
      new FunctionIdentifier("title_case"),
      new ExpressionInfo(classOf[TitleCase].getName, "title_case"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        TitleCase(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[graft.functions.JaroWinkler].getName, "jaro_winkler"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.JaroWinkler(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[graft.functions.NfcNormalize].getName, "nfc_normalize"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.NfcNormalize(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SimHash64(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        def intArg(i: Int) = exprs(i) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"minhash_sig argument ${i + 1} must be an integer literal, got $other")
        }
        MinHashSig(exprs.head, intArg(1), intArg(2))
      }))
    e.injectFunction((
      new FunctionIdentifier("simhash64_md5"),
      new ExpressionInfo(classOf[SimHash64Md5].getName, "simhash64_md5"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SimHash64Md5(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("minhash_sig_p61"),
      new ExpressionInfo(classOf[MinHashSigP61].getName, "minhash_sig_p61"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        def intArg(i: Int) = exprs(i) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"minhash_sig_p61 argument ${i + 1} must be an integer literal, got $other")
        }
        MinHashSigP61(exprs.head, intArg(1), intArg(2))
      }))
    e.injectFunction((
      new FunctionIdentifier("winnow_fingerprint_p61"),
      new ExpressionInfo(classOf[graft.functions.WinnowFingerprintP61].getName,
        "winnow_fingerprint_p61"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        def intArg(i: Int) = exprs(i) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"winnow_fingerprint_p61 argument ${i + 1} must be an integer literal, got $other")
        }
        graft.functions.WinnowFingerprintP61(exprs.head, intArg(1), intArg(2))
      }))
    e.injectFunction((
      new FunctionIdentifier("arg_min_by"),
      new ExpressionInfo(classOf[ArgMinBy].getName, "arg_min_by"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ArgMinBy.coerced(exprs(0), exprs(1), exprs(2)).toAggregateExpression()))
    e.injectFunction((
      new FunctionIdentifier("arg_max_by"),
      new ExpressionInfo(classOf[ArgMinBy].getName, "arg_max_by"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ArgMinBy.coerced(exprs(0), exprs(1), exprs(2), max = true)
          .toAggregateExpression()))
    // X1 as a SQL function (SURVEY.md §4): the builder calls the same
    // Lambert93.lonDeg / latDeg the DataFrame path uses (builtin longitude
    // math plus the codegen'd latitude kernel) — identical results by
    // construction.
    e.injectFunction((
      new FunctionIdentifier("lambert93_to_wgs84"),
      new ExpressionInfo("graft.functions.Lambert93", "lambert93_to_wgs84"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        import org.apache.spark.sql.graftbridge.ColumnBridge
        import org.apache.spark.sql.functions.struct
        require(exprs.length == 2,
          s"lambert93_to_wgs84(x, y) takes 2 arguments, got ${exprs.length}")
        val x = ColumnBridge.column(exprs(0))
        val y = ColumnBridge.column(exprs(1))
        ColumnBridge.eagerExpression(struct(
          graft.functions.Lambert93.lonDeg(x, y).as("lon"),
          graft.functions.Lambert93.latDeg(x, y).as("lat")))
      }))
    e.injectFunction((
      new FunctionIdentifier("dot_d"),
      new ExpressionInfo(classOf[graft.functions.DotProductD].getName, "dot_d"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.DotProductD(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("norm_d"),
      new ExpressionInfo(classOf[graft.functions.NormD].getName, "norm_d"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.NormD(exprs(0))))
  }
}
