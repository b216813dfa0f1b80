package org.apache.spark.sql

/** What Spark itself builds for a frame's plan: a plain Dataset over the
  * frame's logical plan, whose actions all run through Spark. */
object ReferenceFrame {
  def ofRows(frame: DataFrame): DataFrame = {
    val ds = frame.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession, ds.queryExecution.logical)
  }
}
