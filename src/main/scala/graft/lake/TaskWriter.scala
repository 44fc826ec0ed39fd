package graft.lake

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/**
 * One Spark job that writes final, uniquely named parquet files from
 * inside the tasks and returns each file's stats — Iceberg's task-side
 * `DataFile` collection. No file committer runs: no temp dirs, no
 * renames, no `_SUCCESS` marker, no driver listing and no footer
 * read-back. Visibility belongs to the caller's commit (the lake
 * snapshot for data files, the staged-dir rename for the feeds), so a
 * file no commit references is crash debris for `vacuum`.
 *
 * Input rows are TAGGED: `kind` (an index into `outs`), `bucket`,
 * `key` (the sort key, `doc_id`), then one struct column per output,
 * of which a row fills only its own kind's. Each task sorts its rows
 * by (kind, bucket, key) and keeps one parquet writer open at a time,
 * so it writes one file per (kind, bucket) it holds — per kind only,
 * for an output that is not bucketed — counting rows and min/max of
 * the output's lsn field as it writes.
 *
 * The writers are Spark's own parquet `OutputWriter`s, from a factory
 * `ParquetFileFormat.prepareWrite` builds once per output on the
 * driver, so codec and encoding are the session's, and the bytes go
 * through the path's Hadoop `FileSystem` (the raw one, for `file:`:
 * no `.crc` sidecars). A task that fails deletes
 * the files it opened; files of an attempt that died without cleaning
 * up are never reported, and callers that publish a directory delete
 * every file in it that no result names ([[TaskWriter.keepOnlyReported]]).
 */
private[graft] object TaskWriter {

  /** One output: files land under `dir`, in `<name>=<bucket>/`
    * subdirs when `bucketDir = Some(name)`, with `schema`; `lsnField`
    * names the long column whose min/max each file reports. */
  final case class Out(dir: String, schema: StructType, lsnField: Option[String] = None,
      bucketDir: Option[String] = None)

  /** One written file, as its task reported it. `bucket` is -1 for an
    * output that is not bucketed. */
  final case class Written(path: String, bucket: Int, kind: Int, rows: Long,
      minLsn: Long, maxLsn: Long)

  def write(df: DataFrame, outs: IndexedSeq[Out]): Seq[Written] = {
    val spark = df.sparkSession
    val base = spark.sessionState.newHadoopConf()
    // `file:` outputs go through the raw local filesystem: parquet
    // checksums its own pages, and the checksummed local filesystem's
    // `.crc` sidecar would cost one more file, and on a host without
    // the native Hadoop library a forked `chmod`, per file and per
    // created dir. The bytes still count in the `file` statistics.
    if (base.get("fs.file.impl") == null) {
      base.set("fs.file.impl", classOf[RawLocalFileSystem].getName)
      base.setBoolean("fs.file.impl.disable.cache", true)
    }
    val factories = outs.map { o =>
      val job = Job.getInstance(new Configuration(base))
      val f = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, o.schema)
      (f, new SerializableConfiguration(job.getConfiguration))
    }
    val layout = outs.map(o =>
      (o.dir, o.bucketDir, o.schema.length, o.lsnField.fold(-1)(o.schema.fieldIndex)))
    val task = (part: Int, it: Iterator[InternalRow]) => {
      val attempt = new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, part),
        TaskContext.get().attemptNumber())
      val out = Array.newBuilder[Written]
      val opened = scala.collection.mutable.ArrayBuffer.empty[(String, Configuration)]
      var w: OutputWriter = null
      var kind, bucket = -1
      var n, lo, hi = 0L
      def finish(): Unit = if (w != null) {
        w.close()
        out += Written(w.path(), bucket, kind, n, lo, hi)
        w = null
      }
      try {
        it.foreach { r =>
          val k = r.getInt(0)
          val (dir, bucketDir, width, lsnAt) = layout(k)
          val b = if (bucketDir.isDefined) r.getInt(1) else -1
          if (w == null || k != kind || b != bucket) {
            finish()
            val (factory, conf) = factories(k)
            val ctx = new TaskAttemptContextImpl(conf.value, attempt)
            val name = f"part-$part%05d-${UUID.randomUUID()}${factory.getFileExtension(ctx)}"
            val path = bucketDir.fold(s"$dir/$name")(d => s"$dir/$d=$b/$name")
            opened += ((path, conf.value))
            w = factory.newInstance(path, outs(k).schema, ctx)
            kind = k; bucket = b; n = 0L; lo = Long.MaxValue; hi = Long.MinValue
          }
          val p = r.getStruct(3 + k, width)
          if (lsnAt >= 0 && !p.isNullAt(lsnAt)) {
            val l = p.getLong(lsnAt)
            lo = math.min(lo, l); hi = math.max(hi, l)
          }
          w.write(p)
          n += 1
        }
        finish()
      } catch { case e: Throwable =>
        try if (w != null) w.close() catch { case _: Throwable => () }
        opened.foreach { case (p, c) =>
          try { val path = new Path(p); path.getFileSystem(c).delete(path, false) }
          catch { case _: Throwable => () }
        }
        throw e
      }
      Iterator.single(out.result())
    }
    val qe = df.sortWithinPartitions(col("kind"), col("bucket"), col("key")).queryExecution
    // run as an SQL execution of the frame's session, like any Dataset
    // action: its jobs then carry that session's artifact state, so the
    // executors compile and cache generated code under the session's
    // class loader (a job outside it would use whichever state the
    // calling thread holds — a streaming query's clone, for one)
    SQLExecution.withNewExecutionId(qe, Some("graft task write")) {
      qe.toRdd.mapPartitionsWithIndex(task).collect()
    }.toSeq.flatten
  }

  /** Leave exactly the reported files (with their checksum sidecars)
    * in `dir`, creating it when none landed: the output of a task
    * attempt that failed or lost to a retry must not be published with
    * the directory, and an output without rows still publishes. */
  def keepOnlyReported(conf: Configuration, dir: String, reported: Seq[Written]): Unit = {
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    if (!fs.exists(d)) { fs.mkdirs(d); return }
    val keep = reported.map(w => new Path(w.path).getName).toSet
    fs.listStatus(d).foreach { st =>
      val n = st.getPath.getName
      if (!keep(n.stripPrefix(".").stripSuffix(".crc"))) fs.delete(st.getPath, true)
    }
  }
}
