package graft.functions.expressions

import graft.functions.{Sentiment, TextFunctions}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Round-9 completion of the scan-kernel promotion: the four remaining
  * closure UDFs on registry hot paths become native codegen
  * expressions — `clean_text` (q07), `distinct_tokens` (q08),
  * `winnow_fingerprints` (q45 — a corpus-wide dedup scan at 100 TB),
  * and `sentiment_score` (q28). Same preference-ladder argument as
  * [[TextStatsBase]]; every kernel is the SAME JVM function its UDF
  * twin calls, so values and oracle hashes are unchanged by
  * construction.
  *
  * Null semantics mirror each UDF twin exactly: `clean_text` maps null
  * to null (the UDF's explicit branch = the default null-intolerant
  * contract); the other three received the raw null reference and
  * returned empty-document results (empty array / score 0.0), so they
  * are null-TOLERANT with non-nullable output.
  */
case class CleanTextExpr(child: Expression) extends TextStatsBase {
  override def dataType: DataType = StringType
  override def prettyName: String = "clean_text"

  override protected def nullSafeEval(input: Any): Any =
    CleanTextExpr.run(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.expressions.CleanTextExpr.run($c)")

  override protected def withNewChildInternal(newChild: Expression): CleanTextExpr =
    copy(child = newChild)
}

object CleanTextExpr {

  /** Called from generated code — must stay a simple static-style method. */
  def run(text: UTF8String): UTF8String =
    UTF8String.fromString(TextFunctions.cleanTextLocal(text.toString))

  def cleanText(c: Column): Column = Bridge.column(CleanTextExpr(Bridge.expression(c)))
}

/** `distinct_tokens(text)` minus a plan-time outlier list,
  * first-occurrence order (the q08 label-derivation kernel).
  */
case class DistinctTokensExpr(child: Expression, outliers: IndexedSeq[String])
    extends TextStatsBase {

  // the lookup set is derived from `outliers` once per plan and rides
  // the generated class as a reference object, not a per-row build
  @transient private lazy val outSet: Set[String] = outliers.toSet

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "distinct_tokens"

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    DistinctTokensExpr.run(if (t == null) null else t.asInstanceOf[UTF8String], outSet)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val oref = ctx.addReferenceObj("distinctTokensOutliers", outSet,
      "scala.collection.immutable.Set")
    val c = child.genCode(ctx)
    val resultCode =
      code"""
         ${c.code}
         org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
           graft.functions.expressions.DistinctTokensExpr.run(
             ${c.isNull} ? null : ${c.value}, $oref);
       """
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): DistinctTokensExpr =
    copy(child = newChild)
}

object DistinctTokensExpr {

  /** Called from generated code — must stay a simple static-style method. */
  def run(text: UTF8String, outliers: Set[String]): ArrayData = {
    val toks = TextFunctions.distinctTokensLocal(
      if (text == null) null else text.toString, outliers)
    val out = new Array[Any](toks.length)
    var i = 0
    while (i < toks.length) { out(i) = UTF8String.fromString(toks(i)); i += 1 }
    new GenericArrayData(out)
  }

  def distinctTokens(c: Column, outliers: Seq[String]): Column =
    Bridge.column(DistinctTokensExpr(Bridge.expression(c), outliers.toIndexedSeq))
}

/** `winnow_fingerprints(text, k, w)` — sorted distinct MOSS-style
  * winnowed fingerprints ([[TextFunctions.winnowFingerprintsLocal]]);
  * the q45 corpus scan.
  */
case class WinnowFingerprintsExpr(child: Expression, k: Int, w: Int)
    extends TextStatsBase {

  override def checkInputDataTypes(): TypeCheckResult =
    if (k < 1 || w < 1) TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs k >= 1 and w >= 1, got ($k, $w)")
    else super.checkInputDataTypes()

  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType,
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "winnow_fingerprints"

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    WinnowFingerprintsExpr.run(
      if (t == null) null else t.asInstanceOf[UTF8String], k, w)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val resultCode =
      code"""
         ${c.code}
         org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
           graft.functions.expressions.WinnowFingerprintsExpr.run(
             ${c.isNull} ? null : ${c.value}, $k, $w);
       """
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprintsExpr =
    copy(child = newChild)
}

object WinnowFingerprintsExpr {

  /** Called from generated code — must stay a simple static-style method. */
  def run(text: UTF8String, k: Int, w: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      TextFunctions.winnowFingerprintsLocal(
        if (text == null) null else text.toString, k, w))

  def winnowFingerprints(c: Column, k: Int, w: Int): Column =
    Bridge.column(WinnowFingerprintsExpr(Bridge.expression(c), k, w))
}

/** `sentiment_score(text)` — lexicon polarity score
  * ([[Sentiment.scoreLocal]]): (pos − neg) / max(tokens, 1).
  */
case class SentimentScoreExpr(child: Expression) extends TextStatsBase {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "sentiment_score"

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    SentimentScoreExpr.run(if (t == null) null else t.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val resultCode =
      code"""
         ${c.code}
         double ${ev.value} =
           graft.functions.expressions.SentimentScoreExpr.run(
             ${c.isNull} ? null : ${c.value});
       """
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SentimentScoreExpr =
    copy(child = newChild)
}

object SentimentScoreExpr {

  /** Called from generated code — must stay a simple static-style method. */
  def run(text: UTF8String): Double =
    Sentiment.scoreLocal(if (text == null) null else text.toString)

  def sentimentScore(c: Column): Column =
    Bridge.column(SentimentScoreExpr(Bridge.expression(c)))
}

/** `tokens(text)` — lower-case whitespace tokens, empties dropped
  * ([[TextFunctions.tokensLocal]]): the bare tokenizer behind the span
  * pipelines' rebuild column. The columnar form
  * (`filter(split(lower(text), ...))`) is a higher-order function —
  * CodegenFallback, which evicts the whole scan projection from
  * WholeStageCodegen; this expression keeps the q81/q83 base scans
  * fused. Null text → empty array (equals the columnar form's null
  * under the callers' `coalesce`).
  */
case class TokensExpr(child: Expression) extends TextStatsBase {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "tokens"

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    TokensExpr.run(if (t == null) null else t.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val resultCode =
      code"""
         ${c.code}
         org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
           graft.functions.expressions.TokensExpr.run(
             ${c.isNull} ? null : ${c.value});
       """
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): TokensExpr =
    copy(child = newChild)
}

object TokensExpr {

  /** Called from generated code — must stay a simple static-style method. */
  def run(text: UTF8String): ArrayData = {
    val toks = TextFunctions.tokensLocal(if (text == null) null else text.toString)
    val out = new Array[Any](toks.length)
    var i = 0
    while (i < toks.length) { out(i) = UTF8String.fromString(toks(i)); i += 1 }
    new GenericArrayData(out)
  }

  def tokens(c: Column): Column = Bridge.column(TokensExpr(Bridge.expression(c)))
}

/** `clean_tokens(text, language, min_length)` — tokenize + stop-words +
  * code-point length gate in one pass
  * ([[TextFunctions.cleanTokensLocal]]): the q04/q05 wordcount scan and
  * the streaming topology's tokenizer.
  */
case class CleanTokensExpr(child: Expression, language: String, minLength: Int)
    extends TextStatsBase {

  // stop-word set derived once per plan, rides the generated class
  @transient private lazy val sw: Set[String] =
    TextFunctions.stopWords(language).toSet

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "clean_tokens"

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    CleanTokensExpr.run(
      if (t == null) null else t.asInstanceOf[UTF8String], minLength, sw)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val swRef = ctx.addReferenceObj("cleanTokensSw", sw, "scala.collection.immutable.Set")
    val c = child.genCode(ctx)
    val resultCode =
      code"""
         ${c.code}
         org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
           graft.functions.expressions.CleanTokensExpr.run(
             ${c.isNull} ? null : ${c.value}, $minLength, $swRef);
       """
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): CleanTokensExpr =
    copy(child = newChild)
}

object CleanTokensExpr {

  /** Called from generated code — must stay a simple static-style method. */
  def run(text: UTF8String, minLength: Int, sw: Set[String]): ArrayData = {
    val toks = TextFunctions.cleanTokensLocal(
      if (text == null) null else text.toString, minLength, sw)
    val out = new Array[Any](toks.length)
    var i = 0
    while (i < toks.length) { out(i) = UTF8String.fromString(toks(i)); i += 1 }
    new GenericArrayData(out)
  }

  def cleanTokens(c: Column, language: String, minLength: Int): Column =
    Bridge.column(CleanTokensExpr(Bridge.expression(c), language, minLength))
}

/** `simhash60(text)` — 60-bit SimHash fingerprint
  * ([[TextFunctions.simHash60Local]] over the tokenizer); the q21 scan.
  */
case class SimHash60Expr(child: Expression) extends TextStatsBase {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = false
  override def prettyName: String = "simhash60"

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    SimHash60Expr.run(if (t == null) null else t.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val resultCode =
      code"""
         ${c.code}
         long ${ev.value} =
           graft.functions.expressions.SimHash60Expr.run(
             ${c.isNull} ? null : ${c.value});
       """
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash60Expr =
    copy(child = newChild)
}

object SimHash60Expr {

  /** Called from generated code — must stay a simple static-style method. */
  def run(text: UTF8String): Long =
    TextFunctions.simHash60Local(
      TextFunctions.tokensLocal(if (text == null) null else text.toString))

  def simHash60(c: Column): Column = Bridge.column(SimHash60Expr(Bridge.expression(c)))
}

/** `clean_text_fast(text)` — the label-prep cleaner
  * ([[graft.operators.LabelPrep.cleanTextFastLocal]]: junk chars, the
  * literal `< br / >` marker, whitespace collapse); the q12 scan.
  */
case class CleanTextFastExpr(child: Expression) extends TextStatsBase {
  override def dataType: DataType = StringType
  override def prettyName: String = "clean_text_fast"

  override protected def nullSafeEval(input: Any): Any =
    CleanTextFastExpr.run(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.expressions.CleanTextFastExpr.run($c)")

  override protected def withNewChildInternal(newChild: Expression): CleanTextFastExpr =
    copy(child = newChild)
}

object CleanTextFastExpr {

  /** Called from generated code — must stay a simple static-style method. */
  def run(text: UTF8String): UTF8String =
    UTF8String.fromString(graft.operators.LabelPrep.cleanTextFastLocal(text.toString))

  def cleanTextFast(c: Column): Column =
    Bridge.column(CleanTextFastExpr(Bridge.expression(c)))
}
