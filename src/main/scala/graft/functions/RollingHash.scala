package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd polynomial rolling hash over a string's bytes:
  * `acc = (acc * base + byte) mod 1e9+7`.
  *
  * This is the document-fingerprinting primitive (graft.ops.TextOps) as a
  * first-class Catalyst expression: the higher-order-function formulation
  * (`aggregate(transform(sequence(...)))`) evaluates one interpreted lambda
  * per character, while this compiles to a tight Java loop inside
  * whole-stage codegen — the per-row cost drops from O(len) closure calls
  * to O(len) byte ops. Semantics match the HOF/oracle formulation for
  * ASCII input (byte == code point); for multi-byte UTF-8 the hash runs
  * over bytes, which is the right contract for fingerprinting.
  *
  * Registered as SQL function `rolling_hash` via [[GraftExtensions]] or
  * [[GraftFunctions.register]].
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  final val Base = 31L
  final val Mod = 1000000007L

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rolling_hash requires a STRING argument, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      acc = (acc * Base + (bytes(i) & 0xff)) % Mod
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $acc = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $acc = ($acc * ${Base}L + ($bytes[$i] & 0xFF)) % ${Mod}L;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

/** Session-local registration of the engine's native functions. */
object GraftFunctions {
  val rollingHashInfo = new ExpressionInfo(
    classOf[RollingHash].getName, null, "rolling_hash",
    "_FUNC_(str) - polynomial rolling hash (base 31, mod 1e9+7) over the string's bytes.",
    "")

  /** Idempotent per-session registration (temp function registry). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "rolling_hash", exprs => RollingHash(GraftFunctions.unary("rolling_hash", exprs)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hyperplane_sketch", exprs => HyperplaneSketch(GraftFunctions.unary("hyperplane_sketch", exprs)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64", exprs => SimHash64(GraftFunctions.unary("simhash64", exprs)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "nfc_normalize", exprs => NfcNormalize(GraftFunctions.unary("nfc_normalize", exprs)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot", exprs => {
        val (a, b) = binary("vec_dot", exprs); VecDot(a, b)
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_sqdist", exprs => {
        val (a, b) = binary("vec_sqdist", exprs); VecSqDist(a, b)
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bloom_might_contain", exprs => {
        val (a, b) = binary("bloom_might_contain", exprs); BloomMightContain(a, b)
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sq_adc_dot", SqAdcDot.build, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_ngrams", WordNgrams.build, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "unicode_tokens", exprs => UnicodeTokens(GraftFunctions.unary("unicode_tokens", exprs)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "ac_scan", exprs => {
        val (a, b) = binary("ac_scan", exprs); AcScan(a, b)
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cdc_chunks", exprs => CdcChunks(unary("cdc_chunks", exprs)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bpe_pieces", exprs => {
        val (a, b) = binary("bpe_pieces", exprs); BpePieces(a, b)
      }, "scala_udf")
  }

  /** Arity gate for 1-arg builders — `exprs.head` silently IGNORED extra
    * arguments (nfc_normalize(a, b) computed over `a` alone with no
    * diagnostic) and crashed opaquely on zero args.
    */
  private[functions] def unary(name: String, exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1,
      s"$name requires exactly 1 argument, got ${exprs.length}")
    exprs.head
  }

  /** Arity gate for 2-arg builders — a clear analysis-time message instead
    * of an IndexOutOfBoundsException from the registry lambda.
    */
  private[functions] def binary(name: String,
                                exprs: Seq[Expression]): (Expression, Expression) = {
    require(exprs.length == 2,
      s"$name requires exactly 2 arguments, got ${exprs.length}")
    (exprs(0), exprs(1))
  }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` injects the
  * engine's native functions into every session at build time — the
  * SparkSessionExtensions path for cluster deployments.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("rolling_hash"),
      GraftFunctions.rollingHashInfo,
      (exprs: Seq[Expression]) => RollingHash(GraftFunctions.unary("rolling_hash", exprs))))
    ext.injectFunction((
      FunctionIdentifier("hyperplane_sketch"),
      HyperplaneSketch.info,
      (exprs: Seq[Expression]) => HyperplaneSketch(GraftFunctions.unary("hyperplane_sketch", exprs))))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      SimHash64.info,
      (exprs: Seq[Expression]) => SimHash64(GraftFunctions.unary("simhash64", exprs))))
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      NfcNormalize.info,
      (exprs: Seq[Expression]) => NfcNormalize(GraftFunctions.unary("nfc_normalize", exprs))))
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      VecDot.info,
      (exprs: Seq[Expression]) => {
        val (a, b) = GraftFunctions.binary("vec_dot", exprs); VecDot(a, b)
      }))
    ext.injectFunction((
      FunctionIdentifier("vec_sqdist"),
      VecSqDist.info,
      (exprs: Seq[Expression]) => {
        val (a, b) = GraftFunctions.binary("vec_sqdist", exprs); VecSqDist(a, b)
      }))
    ext.injectFunction((
      FunctionIdentifier("bloom_might_contain"),
      BloomMightContain.info,
      (exprs: Seq[Expression]) => {
        val (a, b) = GraftFunctions.binary("bloom_might_contain", exprs)
        BloomMightContain(a, b)
      }))
    ext.injectFunction((
      FunctionIdentifier("sq_adc_dot"),
      SqAdcDot.info,
      (exprs: Seq[Expression]) => SqAdcDot.build(exprs)))
    ext.injectFunction((
      FunctionIdentifier("word_ngrams"),
      WordNgrams.info,
      (exprs: Seq[Expression]) => WordNgrams.build(exprs)))
    ext.injectFunction((
      FunctionIdentifier("unicode_tokens"),
      UnicodeTokens.info,
      (exprs: Seq[Expression]) => UnicodeTokens(GraftFunctions.unary("unicode_tokens", exprs))))
    ext.injectFunction((
      FunctionIdentifier("ac_scan"),
      AcScan.info,
      (exprs: Seq[Expression]) => {
        val (a, b) = GraftFunctions.binary("ac_scan", exprs); AcScan(a, b)
      }))
    ext.injectFunction((
      FunctionIdentifier("cdc_chunks"),
      CdcChunks.info,
      (exprs: Seq[Expression]) =>
        CdcChunks(GraftFunctions.unary("cdc_chunks", exprs))))
    // resolution-stage so the filter is in the analyzed plan (cache-safe)
    ext.injectPostHocResolutionRule(spark => graft.plans.TenantIsolationRule(spark))
    // the engine's optimizer rules: ns-epoch watermark pushdown and the
    // sort-below-projection rewrite (see graft.plans.rules)
    graft.plans.rules.foreach(r => ext.injectOptimizerRule(_ => r))
  }
}
