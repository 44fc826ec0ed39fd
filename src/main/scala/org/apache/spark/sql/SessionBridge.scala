package org.apache.spark.sql

/** Zero-copy move of a DataFrame onto another session of the same
  * SparkContext: the new frame wraps the same logical plan (for a
  * `foreachBatch` frame, a `LogicalRDD` over the micro-batch's RDD), so
  * no row is converted or copied. `Dataset.ofRows` is `private[sql]`,
  * hence this package. */
object SessionBridge {
  def onSession(df: DataFrame, spark: SparkSession): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].queryExecution.logical)

  /** `df` as a streaming frame over its own RDD, the shape a V1
    * streaming source's `getBatch` must return. */
  def asStreaming(df: DataFrame): DataFrame =
    df.sparkSession.asInstanceOf[classic.SparkSession].internalCreateDataFrame(
      df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd, df.schema, isStreaming = true)
}
