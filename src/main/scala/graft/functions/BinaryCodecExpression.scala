package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** The Catalyst plumbing every `<name>(binary)` codec shares: a payload
  * parser (`image_header`, `pdf_text`, `zstd_bytes`, …) extends this, names
  * itself and its result type, and writes only `nullSafeEval` (null when
  * the payload does not parse) and `withNewChildInternal`.
  *
  * `doGenCode` emits one call back into the expression object: the codec
  * body is one opaque call, so inlining it would buy nothing, and unlike
  * `CodegenFallback` the call keeps the surrounding operators inside one
  * WholeStageCodegen span instead of splitting the pipeline. The result is
  * cast the way `CodegenFallback` casts it, so the interpreted and the
  * generated path return the same value.
  *
  * The base is `Serializable` because its constructor takes arguments: Java
  * deserialization runs the no-argument constructor of the first
  * non-serializable superclass, which must stay `UnaryExpression`, or
  * tasks that carry the expression fail to deserialize. */
abstract class BinaryCodecExpression(name: String, resultType: DataType)
    extends UnaryExpression with Serializable {
  override def dataType: DataType = resultType
  override def nullable: Boolean = true
  override def prettyName: String = name

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$name expects binary, got $other")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("codec", this, classOf[BinaryCodecExpression].getName)
    val r = ctx.freshName("decoded")
    nullSafeCodeGen(ctx, ev, b =>
      s"""
         |Object $r = $self.nullSafeEval($b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $r; }
       """.stripMargin)
  }
}
