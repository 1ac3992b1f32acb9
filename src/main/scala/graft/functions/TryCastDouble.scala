package graft.functions

import java.util.Locale

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Expression, If, Literal, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `try_cast(child AS DOUBLE)` with a fast rejection for strings.
  *
  * Spark parses a string to double through `Double.parseDouble` and treats
  * a `NumberFormatException` as "not a number", so every non-numeric string
  * costs a thrown exception with its stack trace. A string can only parse
  * if it holds an ASCII digit or is one of the special literals
  * (`inf`/`infinity`/`nan`, optionally signed, any case, padded by
  * whitespace); [[MayCastToDouble]] tests exactly that with one byte scan,
  * and only strings that pass it reach the cast. Every value is therefore
  * the `try_cast` value. Other input types get the plain `try_cast`.
  * Spec-pinned against `try_cast` on adversarial strings (MetricProcessorSpec).
  */
case class TryCastDouble(child: Expression)
  extends UnaryExpression with RuntimeReplaceable {

  private def cast: Expression = Cast(child, DoubleType,
    Some(SQLConf.get.sessionLocalTimeZone), EvalMode.TRY)

  override lazy val replacement: Expression = child.dataType match {
    case _: StringType => If(MayCastToDouble(child), cast, Literal(null, DoubleType))
    case _ => cast
  }

  override def checkInputDataTypes(): TypeCheckResult = cast.checkInputDataTypes()

  override protected def withNewChildInternal(newChild: Expression): TryCastDouble =
    copy(child = newChild)

  override def prettyName: String = "try_cast_double"
}

object TryCastDouble {
  def apply(c: Column): Column =
    Bridge.column(TryCastDouble(Bridge.eagerExpression(c)))
}

/** false only for a string that cannot parse as a double: no ASCII digit
  * and not a special float literal. */
case class MayCastToDouble(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    MayCastToDouble.test(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.MayCastToDouble.test($s)")

  override protected def withNewChildInternal(newChild: Expression): MayCastToDouble =
    copy(child = newChild)

  override def prettyName: String = "may_cast_to_double"
}

object MayCastToDouble {
  private val specials =
    Set("inf", "infinity", "nan").flatMap(s => Seq(s, "+" + s, "-" + s))

  private def isPad(c: Char): Boolean =
    c <= ' ' || Character.isWhitespace(c) || Character.isSpaceChar(c)

  def test(s: UTF8String): Boolean = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var hasN = false
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b >= '0' && b <= '9') return true
      if (b == 'n' || b == 'N') hasN = true
      i += 1
    }
    // every special literal holds an 'n'
    hasN && specials(s.toString.dropWhile(isPad).reverse.dropWhile(isPad)
      .reverse.toLowerCase(Locale.ROOT))
  }
}
