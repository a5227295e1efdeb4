package graft.exprs

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The two custom Catalyst expressions the north star names: the as-of range
  * predicate and complexity scoring of a serialized feature expression.
  * Both are pure, deterministic, null-intolerant scalar expressions.
  */

/** `AsOfLessOrEqual(rightTs, leftTs)`: true iff a right-side event at
  * `rightTs` is visible at-or-before a left row at `leftTs` — the at-or-
  * before predicate of the point-in-time join (equality included: a value AT
  * exactly ts is visible). Inputs are TIMESTAMP (micros since epoch
  * internally), codegen'd to a primitive long comparison.
  */
case class AsOfLessOrEqual(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(l: Any, r: Any): Any =
    l.asInstanceOf[Long] <= r.asInstanceOf[Long]
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) => s"$l <= $r")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): AsOfLessOrEqual =
    copy(left = l, right = r)
}

/** `ComplexityScore(render)`: parses a serialized [[FeatureExpr]] (the
  * [[FeatureExpr.render]] format) and returns its transformation-node
  * complexity (`CandidateFeature.get_complexity` semantics). Used to score
  * candidate expressions stored in audit/checkpoint tables without
  * collecting them. Parsing is driver-grade string work — CodegenFallback
  * (it is never in a per-row hot path; complexity tables are metadata-sized).
  */
case class ComplexityScore(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    FeatureExprParser.tryParse(s).map(_.complexity).getOrElse(-1)
  }
  override protected def withNewChildInternal(c: Expression): ComplexityScore =
    copy(child = c)
}

/** `TokenPolyHash(str)`: the engine's portable per-token hash —
  * fold (acc*131 + codepoint) mod P (largest prime < 2^53) over the
  * string's UTF-16 units (== codepoints for BMP text, the documented
  * domain). Semantics identical to the HOF formulation in
  * [[graft.text.TextFeatures.tokenHash]], but fully codegen'd: the HOF
  * version allocates a lambda evaluation per character per row, which is
  * the hot path of every shingle/fingerprint/simhash job.
  */
case class TokenPolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      acc = (acc * 131L + s.charAt(i)) % TokenPolyHash.P
      i += 1
    }
    acc
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |String $s = $c.toString();
         |long $acc = 0L;
         |for (int $i = 0; $i < $s.length(); $i++) {
         |  $acc = ($acc * 131L + $s.charAt($i)) % ${TokenPolyHash.P}L;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): TokenPolyHash =
    copy(child = c)
}
object TokenPolyHash { val P: Long = 9007199254740881L }

object CatalystExprs {
  def asOfLessOrEqual(l: Column, r: Column): Column =
    GraftSqlBridge.column(AsOfLessOrEqual(GraftSqlBridge.expression(l), GraftSqlBridge.expression(r)))
  def tokenPolyHash(c: Column): Column =
    GraftSqlBridge.column(TokenPolyHash(GraftSqlBridge.expression(c)))

  /** SQL registration: `asof_lte(ts1, ts2)`, `complexity_score(str)`,
    * `token_poly_hash(str)`.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "asof_lte", exprs => AsOfLessOrEqual(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "complexity_score", exprs => ComplexityScore(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "token_poly_hash", exprs => TokenPolyHash(exprs.head), "built-in")
  }
}
