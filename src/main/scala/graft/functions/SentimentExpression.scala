package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The text analyzers (C7 VADER, C8 TextBlob, C9 composite, plus the
  * LangId heuristic) as native CODEGEN'D Catalyst expressions (a
  * CodegenFallback / row UDF would break the whole-stage-codegen span
  * around every per-doc scoring query).
  *
  * The generated Java is ONE static call into [[SentimentCodegen]] —
  * the analyzer loops live in compiled Scala either way, so codegen
  * here is not about inlining the lexicon walk but about staying
  * INSIDE the WholeStageCodegen pipeline: no ScalaUDF
  * encoder/decoder boundary, no fallback expression breaking the
  * span, null handling fused into the call site. Interpreted eval
  * routes through the same static methods, so both paths are one
  * implementation.
  *
  * Null/empty input → the analyzers' neutral defaults (never null —
  * matches the reference's total error handling,
  * sentiment_analysis.py:239-247/268-272).
  */
abstract class SentimentScoreExpression extends UnaryExpression {

  /** Static method name on [[SentimentCodegen]] the generated code
    * calls; interpreted eval dispatches to the same method. */
  protected def fn: String

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${other.sql}")
    }

  @transient private lazy val evalFn: UTF8String => InternalRow = fn match {
    case "vader"    => SentimentCodegen.vader
    case "textblob" => SentimentCodegen.textblob
    case "analyze"  => SentimentCodegen.analyze
    case "langid"   => SentimentCodegen.langid
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    evalFn(if (v == null) null else v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(
      code = c.code + code"""
        final $javaType ${ev.value} =
          graft.functions.SentimentCodegen.$fn(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }
}

/** Static, Janino-reachable analyzer entry points (an object with no
  * companion class compiles to real static forwarders, so generated
  * code can call `graft.functions.SentimentCodegen.vader(...)`
  * without reference-object plumbing). */
object SentimentCodegen {
  private def str(u: UTF8String): String = if (u == null) null else u.toString

  def vader(u: UTF8String): InternalRow = {
    val s = Vader.score(str(u))
    new GenericInternalRow(Array[Any](s.compound, s.positive, s.negative, s.neutral))
  }

  def textblob(u: UTF8String): InternalRow = {
    val s = TextBlobOps.score(str(u))
    new GenericInternalRow(Array[Any](s.polarity, s.subjectivity))
  }

  def analyze(u: UTF8String): InternalRow = {
    val text = str(u)
    val vs = Vader.score(text)
    val ts = TextBlobOps.score(text)
    new GenericInternalRow(Array[Any](
      vs.compound, vs.positive, vs.negative, vs.neutral, ts.polarity, ts.subjectivity))
  }

  def langid(u: UTF8String): InternalRow = {
    val r = LangId.detect(str(u))
    new GenericInternalRow(Array[Any](UTF8String.fromString(r.lang), r.confidence))
  }
}

/** C9's analyzer pair as ONE expression: a single cleaned-text value
  * feeds both [[Vader]] and [[TextBlobOps]] (the UDF pair used to
  * tokenize the text twice). Output struct: compound, positive,
  * negative, neutral (VADER) + polarity, subjectivity (TextBlob). */
case class AnalyzeSentiment(child: Expression) extends SentimentScoreExpression {
  override def dataType: DataType = AnalyzeSentiment.schema
  override protected def fn: String = "analyze"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object AnalyzeSentiment {
  val schema: StructType = StructType(Seq(
    StructField("compound", DoubleType, nullable = false),
    StructField("positive", DoubleType, nullable = false),
    StructField("negative", DoubleType, nullable = false),
    StructField("neutral", DoubleType, nullable = false),
    StructField("polarity", DoubleType, nullable = false),
    StructField("subjectivity", DoubleType, nullable = false)))

  def analyze_sentiment(c: Column): Column =
    GraftColumnBridge.column(AnalyzeSentiment(GraftColumnBridge.expression(c)))
}

/** C7 alone — for queries that need only the VADER side (q33). */
case class VaderScore(child: Expression) extends SentimentScoreExpression {
  override def dataType: DataType = VaderScore.schema
  override protected def fn: String = "vader"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object VaderScore {
  val schema: StructType = StructType(Seq(
    StructField("compound", DoubleType, nullable = false),
    StructField("positive", DoubleType, nullable = false),
    StructField("negative", DoubleType, nullable = false),
    StructField("neutral", DoubleType, nullable = false)))

  def vader_score(c: Column): Column =
    GraftColumnBridge.column(VaderScore(GraftColumnBridge.expression(c)))
}

/** C8 alone — for queries that need only the TextBlob side (q34). */
case class TextBlobScore(child: Expression) extends SentimentScoreExpression {
  override def dataType: DataType = TextBlobScore.schema
  override protected def fn: String = "textblob"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object TextBlobScore {
  val schema: StructType = StructType(Seq(
    StructField("polarity", DoubleType, nullable = false),
    StructField("subjectivity", DoubleType, nullable = false)))

  def textblob_score(c: Column): Column =
    GraftColumnBridge.column(TextBlobScore(GraftColumnBridge.expression(c)))
}

/** Language-ID heuristic as an expression (was a row UDF in q53). */
case class LangIdDetect(child: Expression) extends SentimentScoreExpression {
  override def dataType: DataType = LangIdDetect.schema
  override protected def fn: String = "langid"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object LangIdDetect {
  val schema: StructType = StructType(Seq(
    StructField("lang", StringType, nullable = false),
    StructField("confidence", DoubleType, nullable = false)))

  def lang_id(c: Column): Column =
    GraftColumnBridge.column(LangIdDetect(GraftColumnBridge.expression(c)))
}
