package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.classic.{ExpressionUtils, UserDefinedFunctionUtils}
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedFunction}

/** Expression <-> Column conversion for the graft library. Spark's classic
  * `ExpressionUtils` is `private[sql]`, so this one object lives in an
  * `org.apache.spark.sql` sub-package and re-exports the calls. */
object ColumnBridge {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def aggregate(f: AggregateFunction): Column = ExpressionUtils.column(f.toAggregateExpression())

  /** The ScalaUDF expression of `f` over `children`, built as Spark's own
    * UDF registration builds it. */
  def scalaUdf(f: UserDefinedFunction, children: Seq[Expression]): Expression =
    UserDefinedFunctionUtils.toScalaUDF(f.asInstanceOf[SparkUserDefinedFunction], children)
}
