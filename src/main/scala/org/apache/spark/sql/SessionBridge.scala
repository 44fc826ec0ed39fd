package org.apache.spark.sql

import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

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

  /** Fold each partition of `df`'s rows with `f`, in one job run as an
    * SQL execution of `df`'s session, like any action. */
  def fold[T: ClassTag](df: DataFrame)(f: Iterator[InternalRow] => T): Seq[T] = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("graft fold")) {
      qe.executedPlan.execute().mapPartitions(it => Iterator.single(f(it))).collect().toSeq
    }
  }

  /** Run `df` once, keeping its rows (memory and disk, recomputable
    * from lineage like `persist`), and fold each partition's rows with
    * `f` in the same job. Returns the folds, a frame over the kept rows
    * that carries `df`'s output partitioning and ordering, and the
    * release hook. Unlike `persist`, the rows stay unconverted: no
    * columnar cache is built or read, so none of its generated
    * accessors is compiled, and the fold needs no aggregation plan.
    * Runs as an SQL execution of `df`'s session, like any action. */
  def persistFold[T: ClassTag](df: DataFrame)(f: Iterator[InternalRow] => T)
      : (DataFrame, Seq[T], () => Unit) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("graft persist")) {
      val rows = qe.executedPlan.execute().map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
      val folds = rows.mapPartitions(it => Iterator.single(f(it))).collect().toSeq
      (classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rows, ds, isStreaming = false)),
        folds, () => { rows.unpersist(false); () })
    }
  }

  /** A frame over `rows` (each of `schema`), computed lazily by the
    * action that reads it, declaring that `rows` has `n` partitions and
    * partition i holds exactly the rows whose `pmod(hash(key), n)` is
    * i — Spark's own hash partitioning, so a join or aggregate on `key`
    * needs no exchange of this side. */
  def hashPartitionedFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType,
      key: String, n: Int): DataFrame = {
    val out = DataTypeUtils.toAttributes(schema)
    val session = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session, LogicalRDD(out, rows,
      HashPartitioning(out.filter(_.name == key), n), Nil, isStreaming = false)(session))
  }

  /** `rows`, adding the bytes the task's thread read through Hadoop
    * file systems while producing them, and their count, to the task's
    * input metrics — what Spark's own file scan reports. */
  def countingInput(rows: => Iterator[InternalRow]): Iterator[InternalRow] = {
    val bytesRead = SparkHadoopUtil.get.getFSBytesReadOnThreadCallback()
    val it = rows
    var n = 0L
    new Iterator[InternalRow] {
      private var done = false
      def hasNext: Boolean = it.hasNext || {
        if (!done) {
          done = true
          Option(TaskContext.get()).foreach { tc =>
            tc.taskMetrics().inputMetrics.incBytesRead(bytesRead())
            tc.taskMetrics().inputMetrics.incRecordsRead(n)
          }
        }
        false
      }
      def next(): InternalRow = { n += 1; it.next() }
    }
  }
}
