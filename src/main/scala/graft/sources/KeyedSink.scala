package graft.sources

import java.util
import java.util.UUID

import graft.lake.Commit
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/**
 * DataSource V2 WRITE-side skeleton — the demonstrated extension point
 * for the reference's keyed-sink connector family (SURVEY §2.3-10/11:
 * elasticsearchwriter bulk-by-id upsert, mongodbwriter ReplaceOne,
 * otswriter PutRow/UpdateRow/DeleteRow, kudu upsert — every store
 * whose write primitive is "replace the row with this id"). No live
 * store exists in this sandbox, so the "store" is a directory of
 * bucket-sharded line files under a versioned manifest; everything
 * AROUND the encoding is the real connector surface a store-backed
 * sink would use unchanged:
 *
 *   - **Two-phase commit protocol**: each task writer stages its rows
 *     under `.pending-<txn>/`, task `commit()` returns a
 *     [[WriterCommitMessage]] naming the finished files (task-level
 *     2PC half — Spark's OutputCommitCoordinator guarantees one
 *     attempt per partition wins), the driver's `commit(messages)`
 *     publishes the staged dir with ONE atomic rename and then
 *     advances the store by publishing `manifest-v<N>.json` with
 *     [[graft.lake.Commit.publish]] — the same version-CAS as
 *     [[graft.lake.LakeTable]] commits: a concurrent writer loses
 *     LOUDLY, never silently interleaves.
 *     `abort()` deletes the staged dir; readers only ever see
 *     manifest-listed files, so crash debris (a staged dir whose txn
 *     never committed) is invisible and harmless.
 *   - **Keyed upsert semantics**: rows carry (doc_id, lsn, op);
 *     within a bucket the reader serves the max-lsn row per key and
 *     honors `op = "D"` tombstones (the DELETE half of the OTS
 *     DeleteRow / ES delete-by-id analog). A re-delivered batch
 *     (at-least-once upstream) is idempotent by construction —
 *     last-wins over (key, lsn) is insensitive to duplicates.
 *   - **Bucket sharding**: writers split rows by
 *     `floorMod(hash(doc_id), buckets)` into per-bucket files — the
 *     connector-internal analog of the store's shard routing (ES
 *     routes by id hash, OTS by partition key). The read side plans
 *     ONE partition per bucket, so resolution state is per-bucket,
 *     never global — the property that lets the store scale out.
 *
 * Fixed schema (the engine's canonical change-row shape):
 * (doc_id string, lsn long, op string, n_tok long?, source string?).
 * The line encoding (TSV, `\N` for null) stands in for the store's
 * wire format; a real sink swaps `KeyedSinkWriter.encode` and the
 * reader for store RPCs and keeps the commit protocol.
 *
 * Register via `.format("graft-keyed-sink")` (META-INF service entry)
 * with `option("path", dir)` and optional `option("buckets", n)`.
 */
class KeyedSinkProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-keyed-sink"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KeyedSink.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-keyed-sink requires option(\"path\", ...)"))
    val buckets = Option(properties.get("buckets")).map(_.toInt).getOrElse(8)
    // capture the SESSION's Hadoop configuration at plan time (user
    // s3a credentials / custom schemes included) and serialize it to
    // every executor-side writer/reader — a fresh `new Configuration()`
    // there would silently drop spark.hadoop.* settings
    val conf = new SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    new KeyedSinkTable(path, buckets, conf)
  }
}

private[sources] class KeyedSinkTable(path: String, buckets: Int,
    conf: SerializableConfiguration)
    extends Table with SupportsWrite with SupportsRead {
  override def name(): String = s"graft-keyed-sink($path)"
  override def schema(): StructType = KeyedSink.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.BATCH_READ)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val in = info.schema()
    require(in.fieldNames.sameElements(KeyedSink.Schema.fieldNames),
      s"graft-keyed-sink expects columns ${KeyedSink.Schema.fieldNames.mkString(",")} " +
        s"in order, got ${in.fieldNames.mkString(",")}")
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new KeyedSinkBatchWrite(path, buckets, conf)
      }
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new KeyedSinkScan(path, buckets, conf)
    }
}

// ------------------------------------------------------------- write

private[sources] case class KeyedFilesMessage(
    files: Seq[(Int, String, Long)]) extends WriterCommitMessage // (bucket, name, rows)

private[sources] class KeyedSinkBatchWrite(path: String, buckets: Int,
    conf: SerializableConfiguration)
    extends BatchWrite {
  private val txn = UUID.randomUUID().toString

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new KeyedSinkWriterFactory(path, buckets, txn, conf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = KeyedSink.fs(path, conf.value)
    val staged = new Path(path, s".pending-$txn")
    val published = new Path(path, s"txn-$txn")
    val files = messages.flatMap { case KeyedFilesMessage(fl) => fl }
    // publish: ONE atomic dir rename makes every task's staged file
    // durable together (an empty write still advances the version)
    if (files.nonEmpty && !fs.rename(staged, published))
      throw new IllegalStateException(s"keyed-sink publish rename failed for $txn")
    val prev = KeyedSink.currentManifest(fs, path)
    val prevFiles = prev.map(_._2).getOrElse(Nil)
    val newFiles = files.map { case (b, name, rows) => (b, s"txn-$txn/$name", rows) }
    val version = prev.map(_._1).getOrElse(0L) + 1L
    try KeyedSink.publishManifest(fs, path, version,
      KeyedSink.manifestJson(prevFiles ++ newFiles))
    catch { case e: IllegalStateException =>
      // CAS loss AFTER the publish rename: the txn dir is durable but
      // will never be manifest-listed (the winner's manifest does not
      // know it) — reclaim it now or it leaks as invisible debris on
      // every concurrent-writer retry
      fs.delete(published, true)
      throw e
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = KeyedSink.fs(path, conf.value)
    fs.delete(new Path(path, s".pending-$txn"), true)
  }
}

private[sources] class KeyedSinkWriterFactory(path: String, buckets: Int, txn: String,
    conf: SerializableConfiguration)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KeyedSinkWriter(path, buckets, txn, partitionId, taskId, conf)
}

private[sources] class KeyedSinkWriter(path: String, buckets: Int, txn: String,
    partitionId: Int, taskId: Long, conf: SerializableConfiguration)
    extends DataWriter[InternalRow] {
  private val fs = KeyedSink.fs(path, conf.value)
  private val streams = new java.util.HashMap[Int, java.io.BufferedWriter]()
  private val counts = new java.util.HashMap[Int, Long]()

  private def writerFor(b: Int): java.io.BufferedWriter = {
    var w = streams.get(b)
    if (w == null) {
      val f = new Path(path, s".pending-$txn/${KeyedSink.fileName(b, partitionId, taskId)}")
      w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(fs.create(f, true), "UTF-8"))
      streams.put(b, w)
      counts.put(b, 0L)
    }
    w
  }

  override def write(row: InternalRow): Unit = {
    val key = row.getUTF8String(0).toString
    val b = java.lang.Math.floorMod(key.hashCode, buckets) // shard routing by key hash
    writerFor(b).write(KeyedSink.encode(row))
    counts.put(b, counts.get(b) + 1L)
  }

  override def commit(): WriterCommitMessage = {
    streams.values.forEach(_.close())
    val files = new scala.collection.mutable.ArrayBuffer[(Int, String, Long)]
    counts.forEach((b, n) => files += ((b.intValue,
      KeyedSink.fileName(b, partitionId, taskId), n.longValue)))
    KeyedFilesMessage(files.toSeq)
  }

  override def abort(): Unit = {
    streams.values.forEach(w => try w.close() catch { case _: Exception => () })
    counts.keySet.forEach { b =>
      fs.delete(new Path(path,
        s".pending-$txn/${KeyedSink.fileName(b, partitionId, taskId)}"), false)
      ()
    }
  }

  override def close(): Unit = streams.values.forEach(w =>
    try w.close() catch { case _: Exception => () })
}

// -------------------------------------------------------------- read

private[sources] class KeyedSinkScan(path: String, buckets: Int,
    conf: SerializableConfiguration)
    extends Scan with Batch {
  override def readSchema(): StructType = KeyedSink.Schema
  override def description(): String = s"graft-keyed-sink buckets=$buckets"
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val fs = KeyedSink.fs(path, conf.value)
    val files = KeyedSink.currentManifest(fs, path).map(_._2).getOrElse(Nil)
    // one partition per bucket: resolution state is per-bucket, and a
    // bucket's reader opens ONLY its own files (the shard-scan shape)
    files.groupBy(_._1).toArray.sortBy(_._1).map { case (b, fl) =>
      KeyedBucketPartition(path, b, fl.map(_._2)): InputPartition
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new KeyedBucketReaderFactory(conf)
}

/** Named top-level factory: serialized to executors with ONLY the
  * Hadoop conf — an anonymous factory would close over the
  * non-serializable Scan. */
private[sources] class KeyedBucketReaderFactory(conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val kp = p.asInstanceOf[KeyedBucketPartition]
    new KeyedBucketReader(kp.path, kp.files, conf)
  }
}

private[sources] case class KeyedBucketPartition(
    path: String, bucket: Int, files: Seq[String]) extends InputPartition

/** Resolves the bucket's files to one live row per key: max-lsn wins
  * (manifest order breaks exact-lsn ties — later commit wins), `D`
  * winners are tombstones and are dropped. State ∝ live keys in THIS
  * bucket only. */
private[sources] class KeyedBucketReader(path: String, files: Seq[String],
    conf: SerializableConfiguration)
    extends PartitionReader[InternalRow] {
  private val it: Iterator[InternalRow] = {
    val fs = KeyedSink.fs(path, conf.value)
    val best = new java.util.HashMap[String, Array[String]]()
    files.foreach { rel =>
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(new Path(path, rel)), "UTF-8"))
      try {
        var line = in.readLine()
        while (line != null) {
          val f = line.split("\t", -1)
          val prev = best.get(f(0))
          if (prev == null || f(1).toLong >= prev(1).toLong) best.put(f(0), f)
          line = in.readLine()
        }
      } finally in.close()
    }
    import scala.jdk.CollectionConverters._
    best.values().asScala.iterator
      .filter(f => f(2) != "D")
      .map { f =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(f(0)), f(1).toLong, UTF8String.fromString(f(2)),
          if (f(3) == "\\N") null else java.lang.Long.valueOf(f(3).toLong),
          if (f(4) == "\\N") null else UTF8String.fromString(f(4))))
      }
  }
  private var cur: InternalRow = _
  override def next(): Boolean = { if (it.hasNext) { cur = it.next(); true } else false }
  override def get(): InternalRow = cur
  override def close(): Unit = ()
}

private[graft] object KeyedSink {

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("lsn", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("n_tok", LongType, nullable = true),
    StructField("source", StringType, nullable = true)))

  def fs(path: String, conf: org.apache.hadoop.conf.Configuration): FileSystem =
    new Path(path).getFileSystem(conf)

  def fileName(bucket: Int, partitionId: Int, taskId: Long): String =
    f"b$bucket%04d-p$partitionId%05d-t$taskId.tsv"

  /** TSV line for one input row; `\N` encodes null. Tabs/newlines in
    * strings are rejected loudly — this codec is the stand-in for the
    * store's wire format, not a general-purpose serializer. */
  def encode(row: InternalRow): String = {
    def s(i: Int): String = {
      val v = row.getUTF8String(i).toString
      require(!v.contains('\t') && !v.contains('\n'),
        "graft-keyed-sink line codec forbids tabs/newlines in string fields")
      v
    }
    val nTok = if (row.isNullAt(3)) "\\N" else row.getLong(3).toString
    val src = if (row.isNullAt(4)) "\\N" else s(4)
    s"${s(0)}\t${row.getLong(1)}\t${s(2)}\t$nTok\t$src\n"
  }

  private val ManifestRe = """manifest-v(\d+)\.json""".r

  /** (version, files) of the max committed manifest, None if empty.
    * Files are (bucket, relPath, rows) in commit order. */
  def currentManifest(fs: FileSystem, path: String): Option[(Long, Seq[(Int, String, Long)])] = {
    val v = Commit.versions(fs, new Path(path), ManifestRe).lastOption.getOrElse(return None)
    val in = fs.open(new Path(path, f"manifest-v$v%08d.json"))
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val j = org.json4s.jackson.JsonMethods.parse(txt)
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val files = (j \ "files").extract[Seq[Seq[String]]]
      .map(f => (f(0).toInt, f(1), f(2).toLong))
    Some((v, files))
  }

  /** Version-CAS publish of the next manifest. Committers that all
    * read version v race to publish v+1; exactly one wins, the losers
    * throw LOUDLY here (never a silent history fork). */
  private[graft] def publishManifest(fs: FileSystem, path: String,
      version: Long, body: String): Unit =
    if (!Commit.publish(fs, new Path(path, f"manifest-v$version%08d.json"), body.getBytes("UTF-8")))
      throw new IllegalStateException(
        s"keyed-sink commit race on v$version (concurrent writer advanced the store)")

  def manifestJson(files: Seq[(Int, String, Long)]): String = {
    import org.json4s.JsonDSL._
    val j = "files" -> files.map { case (b, p, r) => Seq(b.toString, p, r.toString) }
    org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(j))
  }
}
