package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

import graft.SparkSuite

/** Kernels that break the never-null contract: non-null input, null
  * result. */
case class NullUnaryKernel(child: Expression)
    extends UnaryExpression with KernelUnaryCodegen {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = null
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

case class NullBinaryKernel(left: Expression, right: Expression)
    extends BinaryExpression with KernelBinaryCodegen {
  override def dataType: DataType = LongType
  override def nullSafeEval(l: Any, r: Any): Any = null
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

class KernelCodegenSpec extends SparkSuite {

  private def failureOf(df: DataFrame): IllegalStateException = {
    val e = intercept[Exception](df.collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case ise: IllegalStateException => ise }
      .getOrElse(fail(s"no IllegalStateException in the cause chain", e))
  }

  private def id: Expression = ColumnBridge.expression(col("id"))

  test("a null kernel result fails naming the expression, in generated " +
    "code, for unary and binary kernels") {
    val cases: Seq[(Column, String)] = Seq(
      ColumnBridge.column(NullUnaryKernel(id)) ->
        classOf[NullUnaryKernel].getName,
      ColumnBridge.column(NullBinaryKernel(id, id)) ->
        classOf[NullBinaryKernel].getName)
    cases.foreach { case (c, name) =>
      val df = spark.range(3).select(c.as("k"))
      assert(df.queryExecution.executedPlan.toString
        .contains("*("), s"expected whole-stage codegen:\n" +
        df.queryExecution.executedPlan)
      val err = failureOf(df)
      assert(err.getMessage.contains(name), err.getMessage)
      assert(err.getMessage.contains("never be null"), err.getMessage)
    }
  }
}
