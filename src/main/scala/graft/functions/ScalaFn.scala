package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A Scala function of two columns' internal values (`InternalRow`,
  * `ArrayData`, `UTF8String`, ..., null for SQL NULL), called from
  * generated code. A rule set written as Column lambdas inside a
  * higher-order function (`aggregate`) is re-analyzed on every plan and
  * evaluated by walking expression trees (`CodegenFallback`); here it is
  * compiled Scala, reached through `ctx.addReferenceObj`. Only `name`
  * prints in plans. The caller reuses its input buffers for the next
  * row, so `f` must keep nothing of one call for the next.
  */
case class ScalaFn(name: String, left: Expression, right: Expression,
    dataType: DataType, f: (Any, Any) => Any) extends BinaryExpression {

  override def nullable: Boolean = true
  override def prettyName: String = name
  override protected def flatArguments: Iterator[Any] = Iterator(left, right)

  override def eval(input: InternalRow): Any = f(left.eval(input), right.eval(input))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = ctx.addReferenceObj("fn", f, classOf[Function2[_, _, _]].getName)
    val (l, r) = (left.genCode(ctx), right.genCode(ctx))
    val out = ctx.freshName("out")
    ev.copy(code = code"""
      ${l.code}
      ${r.code}
      Object $out = $fn.apply(${l.isNull} ? null : (Object) ${l.value},
        ${r.isNull} ? null : (Object) ${r.value});
      boolean ${ev.isNull} = $out == null;
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${ev.isNull}
        ? ${CodeGenerator.defaultValue(dataType)}
        : (${CodeGenerator.boxedType(dataType)}) $out;""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ScalaFn =
    copy(left = newLeft, right = newRight)
}

object ScalaFn {
  def apply(name: String, left: Column, right: Column, dataType: DataType)(
      f: (Any, Any) => Any): Column = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    column(new ScalaFn(name, expression(left), expression(right), dataType, f))
  }
}
