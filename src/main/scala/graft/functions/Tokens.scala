package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Whitespace tokens of lowercased text as one codegen'd expression: the
  * same function as `filter(split(lower(text), "\\s+"), t -> t <> "")` on
  * every input, without the interpreted lambda.
  *
  * Lowercasing is Spark's `lower` for a UTF8_BINARY string. Full-ASCII
  * input goes straight to `UTF8String.toLowerCaseAscii`, which is what both
  * of `lower`'s paths return for it. Other input calls
  * `CollationSupport.Lower.exec` with `spark.sql.icu.caseMappings.enabled`
  * read as `Lower` reads it. The detour matters in a fresh JVM: Spark's
  * ICU path first runs the static initializer of `CollationAwareUTF8String`,
  * which builds a title-case table over every code point (over a second of
  * CPU) that lowercasing never reads.
  *
  * Splitting is Java's `\s+` with limit −1, empty pieces dropped: the
  * maximal runs of characters outside ` \t\n\u000B\f\r`. Those six are
  * ASCII bytes that never occur inside a multi-byte UTF-8 sequence, and
  * both lowercasings return valid UTF-8, so one byte splitter serves all
  * text. The child must be a UTF8_BINARY string: other collations change
  * `lower` and are rejected at analysis. */
case class Tokens(child: Expression) extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "tokens"

  private lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case st: StringType if st.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID =>
      TypeCheckResult.TypeCheckSuccess
    case t =>
      TypeCheckResult.TypeCheckFailure(
        s"tokens needs a UTF8_BINARY string, got ${t.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    Tokens.tokens(input.asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Tokens.tokens($c, $useICU)")

  override protected def withNewChildInternal(newChild: Expression): Tokens =
    copy(child = newChild)
}

object Tokens {

  /** Shared by eval and codegen. */
  def tokens(s: UTF8String, useICU: Boolean): ArrayData =
    splitTokens((if (s.isFullAscii) s.toLowerCaseAscii
      else CollationSupport.Lower.exec(
        s, CollationFactory.UTF8_BINARY_COLLATION_ID, useICU)).getBytes)

  private def isSpace(c: Byte): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** Tokens of lowercased UTF-8 bytes, sharing `b`: both lowercasings
    * return a fresh string, so nothing else writes to it. */
  private def splitTokens(b: Array[Byte]): ArrayData = {
    val out = ArrayBuffer.empty[Any]
    var i = 0
    while (i < b.length) {
      while (i < b.length && isSpace(b(i))) i += 1
      val start = i
      while (i < b.length && !isSpace(b(i))) i += 1
      if (i > start) out += UTF8String.fromBytes(b, start, i - start)
    }
    new GenericArrayData(out.toArray)
  }

  def tokens(text: Column): Column = Bridge.column(Tokens(Bridge.expression(text)))
}
