package graft.functions

import graft.index.PostingCodec
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** Native Catalyst `Generator` that explodes a posting blob into
  * (doc_id, tf, dl) rows through the codec's one reader,
  * `PostingCodec.Cursor` (SURVEY.md §4.3 "optional polish": an
  * `Expression` for the blob decode).
  *
  * Compared to the typed `flatMap` decode path, the generator stays inside
  * the relational plan: no Tuple encoder round-trip, `GenerateExec` consumes
  * the blob bytes directly from the UnsafeRow and emits InternalRows in
  * place. Registered as a Column function (`PostingExplode.posting_explode`)
  * and as a SQL generator function via [[GraftFunctions.register]].
  */
case class PostingExplode(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("tf", IntegerType, nullable = false),
    StructField("dl", IntegerType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"posting_explode requires BINARY input, got ${child.dataType.catalogString}")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val blob = child.eval(input).asInstanceOf[Array[Byte]]
    if (blob == null) Iterator.empty
    else new Iterator[InternalRow] {
      private val cursor = new PostingCodec.Cursor(blob)
      private var ready = cursor.next()
      // one reused row: GenerateExec projects every emitted row into an
      // UnsafeRow before the next() call, so per-posting allocation of a
      // fresh GenericInternalRow (the row AND its Array[Any]) was pure
      // garbage — the same reuse built-in CollectionGenerators do
      private val vals = new Array[Any](3)
      private val row = new GenericInternalRow(vals)
      override def hasNext: Boolean = ready
      override def next(): InternalRow = {
        vals(0) = cursor.docId
        vals(1) = cursor.tf
        vals(2) = cursor.dl
        ready = cursor.next()
        row
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): PostingExplode =
    copy(child = newChild)
}

/** Column + SQL registration helpers for the engine's custom expressions. */
object GraftFunctions {

  import org.apache.spark.sql.GraftColumnBridge

  /** blob -> rows (doc_id, tf, dl). */
  def posting_explode(blob: Column): Column =
    GraftColumnBridge.column(PostingExplode(GraftColumnBridge.expression(blob)))

  /** Registers `posting_explode` for SQL use on a session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "posting_explode", exprs => PostingExplode(exprs.head), "built-in")
  }
}

/** SparkSessionExtensions entry point: enable with
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * (or `.withExtensions(new GraftExtensions)`) to get the engine's SQL
  * functions in every session — the standard extension-injection surface. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("posting_explode"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[PostingExplode].getName, "posting_explode"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        PostingExplode(exprs.head)))
  }
}
