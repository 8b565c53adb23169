package graft.functions

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.classic.GraftPlanBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.internal.types.StringTypeWithCollation
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The two string kernels of the curation path.
  *
  * `lower` is Spark's UTF8_BINARY `lower`, spelled without
  * `CollationAwareUTF8String`: that class's static initializer
  * title-cases all 1 114 112 code points into a table only `initcap`
  * reads (~2 s under C1 in a fresh JVM), and Spark's `lower` runs it on
  * first use even for pure-ASCII text.
  *
  * `charGrams` is every length-`k` character substring of a string in one
  * pass: one walk records each code point's byte offset, then each gram is
  * a slice of the string's bytes. `substring(s, p, k)` per position walks
  * from byte 0 each time, O(L²) per document.
  */
object TextKernelsImpl {
  /** Spark's `CollationSupport.Lower.exec` for UTF8_BINARY strings:
    * ICU's full case mapping when `icu`, the JDK's otherwise.
    */
  def lower(s: UTF8String, icu: Boolean): UTF8String =
    if (!icu) s.toLowerCase
    else if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(UCharacter.toLowerCase(s.toValidString))

  private val NoGrams = new GenericArrayData(Array.empty[Any])

  /** `substring(s, p, k)` for p = 1 .. numChars − k + 1, in order. Chars
    * are Spark's: each lead byte's UTF-8 length (1 for a stray
    * continuation or invalid byte), so invalid input splits the way
    * `substring` splits it. A truncated sequence at the end stops at the
    * last byte, where `substring` would copy past the string's end.
    */
  def charGrams(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val starts = new Array[Int](n + 1)
    var chars = 0
    var i = 0
    while (i < n) {
      starts(chars) = i
      chars += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    starts(chars) = n
    if (chars < k) return NoGrams
    val out = new Array[Any](chars - k + 1)
    var p = 0
    while (p < out.length) {
      out(p) = UTF8String.fromBytes(bytes, starts(p), starts(p + k) - starts(p))
      p += 1
    }
    new GenericArrayData(out)
  }
}

/** Spark's `Lower`, with the UTF8_BINARY path through
  * [[TextKernelsImpl.lower]]. Same input types, result type, null
  * handling and `spark.sql.icu.caseMappings.enabled` read (once per
  * expression, like `Lower`); any other collation calls Spark's own
  * `CollationSupport.Lower`.
  */
case class GraftLower(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringTypeWithCollation(supportsTrimCollation = true))
  override def dataType: DataType = child.dataType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_lower"

  private lazy val collationId = child.dataType.asInstanceOf[StringType].collationId
  private lazy val binary = CollationFactory.fetchCollation(collationId).isUtf8BinaryType
  private lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    if (binary) TextKernelsImpl.lower(s, useICU)
    else CollationSupport.Lower.exec(s, collationId, useICU)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      if (binary) s"graft.functions.TextKernelsImpl.lower($c, $useICU)"
      else "org.apache.spark.sql.catalyst.util.CollationSupport.Lower" +
        s".exec($c, $collationId, $useICU)")

  override protected def withNewChildInternal(newChild: Expression): GraftLower =
    copy(child = newChild)
}

/** Every length-`k` character substring of a string, by position
  * ([[TextKernelsImpl.charGrams]]); empty below `k` chars.
  */
case class CharGrams(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, "gram width must be >= 1")
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def prettyName: String = "graft_char_grams"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_char_grams requires string, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    TextKernelsImpl.charGrams(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernelsImpl.charGrams($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): CharGrams =
    copy(child = newChild)
}

/** The kernels above as Columns. */
object TextKernels {
  /** Spark's `lower(c)`, value for value, without the ICU title-case table. */
  def lower(c: Column): Column = GraftPlanBridge.column(c)(GraftLower)

  /** `substring(c, p, k)` for every position p, in order; empty below k chars. */
  def charGrams(c: Column, k: Int): Column = GraftPlanBridge.column(c)(CharGrams(_, k))
}
