package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

/** Bridge to private[sql] APIs of Spark 4: the Column <-> Expression
  * converters (Column is ColumnNode-backed in 4.x; `classic.ExpressionUtils`
  * holds the conversions) and `Dataset.ofRows` over a prepared plan. Lives
  * in the org.apache.spark.sql package solely to satisfy the access
  * modifier — the standard extension pattern (cf. SNIPPETS.md [3], a public
  * DatasetFactory doing the same for Dataset). */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A local frame of `rows` under `schema`, as `createDataFrame` builds
    * it but with the `LocalRelation` marked analyzed: its attributes are
    * resolved by construction, so the analyzer skips it. */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame = {
    val plan = LocalRelation.fromExternalRows(DataTypeUtils.toAttributes(schema), rows)
    plan.setAnalyzed()
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  }
}
