package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** [[PortableHash.h60]] of a binary value as one codegen'd Catalyst
  * expression: the first 60 bits of the MD5 digest, as a non-negative
  * long, from the thread-local digest in one call per row.
  *
  * It replaces the string chain
  * `conv(substring(md5(c), 1, 15), 16, 10).cast("long")`, which formats
  * 32 hex characters, cuts 15 of them, re-parses them in `conv`, and
  * casts the decimal string to a long. Both read the same bits: md5's
  * first 15 hex characters are the top 60 bits of the digest's first 8
  * bytes, which is exactly what `h60` returns. The input is `c.cast(binary)`,
  * the same coercion `md5` applies to a string (its UTF-8 bytes), so
  * the value is bit-identical; null in gives null out
  * (parity-tested in FunctionsSpec).
  */
final case class H60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "h60"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a binary input, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    PortableHash.h60(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.functions.PortableHash.h60($b)")

  override protected def withNewChildInternal(newChild: Expression): H60 =
    copy(child = newChild)
}
