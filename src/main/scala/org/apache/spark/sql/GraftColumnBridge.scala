package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, GenericRowWithSchema}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.StructType

import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._

/** Bridge to private[sql] APIs of Spark 4: the Column <-> Expression
  * converters (Column is ColumnNode-backed in 4.x; `classic.ExpressionUtils`
  * holds the conversions) and a Dataset over a prepared plan. Lives in the
  * org.apache.spark.sql package solely to satisfy the access modifier — the
  * standard extension pattern (cf. SNIPPETS.md [3], a public DatasetFactory
  * doing the same for Dataset). */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A local frame of the `(doc_id, score)` pairs `hits` under `schema`
    * (a long and a double column), as `createDataFrame` builds it but with
    * the `LocalRelation` marked analyzed: its attributes are resolved by
    * construction, so the analyzer skips it. One pass builds each hit's
    * relation row and the row the frame returns, a `GenericRowWithSchema`
    * as Spark's deserializer would give it; no converter runs. The frame is
    * a [[LocalRowsFrame]]: the actions that only read its rows are answered
    * from the driver, with no Spark execution. */
  def localFrame(spark: SparkSession, schema: StructType, hits: Seq[(Long, Double)]): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val data = new Array[InternalRow](hits.length)
    val rows = new Array[Row](hits.length)
    var i = 0
    hits.foreach { case (d, s) =>
      data(i) = new GenericInternalRow(Array[Any](d, s))
      rows(i) = new GenericRowWithSchema(Array[Any](d, s), schema)
      i += 1
    }
    val plan = LocalRelation(DataTypeUtils.toAttributes(schema), ArraySeq.unsafeWrapArray(data))
    plan.setAnalyzed()
    session.withActive {
      val qe = session.sessionState.executePlan(plan)
      qe.assertAnalyzed()
      new LocalRowsFrame(qe, schema, rows)
    }
  }
}

/** A DataFrame over rows already on the driver, on an analyzed
  * `LocalRelation` plan. The actions that only read those rows — `collect`,
  * `collectAsList`, `toLocalIterator`, `head(n)` (and through it `take`,
  * `first`, `head()` and `takeAsList`), `tail(n)`, `count` and `isEmpty` —
  * return them directly, in order, in fresh collections: no optimizer or
  * planner pass, no job, no SQL execution and no `QueryExecutionListener`
  * event. They return what the same action returns on
  * `Dataset.ofRows(spark, queryExecution.logical)`. Every other action and
  * every transformation runs through Spark on the same plan: `withPlan`
  * builds a plain Dataset, so joins, filters, `.as[T]` and `show` are
  * unchanged. */
private[sql] final class LocalRowsFrame(qe: QueryExecution, schema: StructType, rows: Array[Row])
    extends classic.Dataset[Row](qe, () => ExpressionEncoder(schema)) {

  override def collect(): Array[Row] = rows.clone()
  override def collectAsList(): java.util.List[Row] = new java.util.ArrayList(rows.toSeq.asJava)
  override def toLocalIterator(): java.util.Iterator[Row] = rows.iterator.asJava
  // a negative n is Spark's to reject
  override def head(n: Int): Array[Row] = if (n < 0) super.head(n) else rows.take(n)
  override def tail(n: Int): Array[Row] = if (n < 0) super.tail(n) else rows.takeRight(n)
  override def count(): Long = rows.length.toLong
  override def isEmpty: Boolean = rows.isEmpty
}
