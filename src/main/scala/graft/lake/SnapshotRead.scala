package graft.lake

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SessionBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, GenericInternalRow, InterpretedUnsafeProjection, Literal}
import org.apache.spark.sql.execution.FileRelation
import org.apache.spark.sql.execution.datasources.{FileFormat, FileIndex, HadoopFsRelation, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, EqualTo, Filter, In, PrunedFilteredScan}
import org.apache.spark.sql.types.StructType

/**
 * Reads of a snapshot's files, taken from the snapshot's metadata: the
 * file list is the manifest's, so nothing is listed, on the driver or
 * in a job.
 *
 *   - [[SnapshotRead.scan]]: Spark's parquet scan over a fixed file
 *     list, with column pruning and filter pushdown as usual.
 *   - [[SnapshotRead.merged]]: the merge-on-read resolution of whole
 *     buckets that carry delta files, one task per bucket, with no
 *     shuffle and no aggregation plan. A bucket's base files hold each
 *     key at most once (every base write rewrites the whole bucket from
 *     resolved rows); its
 *     delta files overlay them. The task reads the delta files into a
 *     map of each key's max-`_lsn` row, streams the base files, emits
 *     the later of base row and delta row per key, then the delta rows
 *     whose keys no base row holds. Memory is bounded by the bucket's
 *     delta rows, which the write policy keeps a small fraction of its
 *     base rows. A row with the same key and `_lsn` in two files is the
 *     same change written twice, so either copy may win a tie.
 */
private[lake] object SnapshotRead {

  /** A parquet scan of exactly `files`, at `schema`. */
  def scan(spark: SparkSession, root: String, schema: StructType, files: Seq[FileStatus]): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(new FixedFileIndex(new Path(root), files),
      new StructType(), schema, None, new ParquetFileFormat, Map.empty)(spark))

  /** The resolved physical rows (one per key, tombstones kept) of the
    * buckets `files` belong to, at `s`'s physical schema: a relation
    * that Spark prunes columns of and pushes filters into, and whose
    * frame reports its files in `inputFiles`. */
  def merged(spark: SparkSession, s: LakeTable.Snapshot,
      files: Seq[(LakeTable.DataFile, FileStatus)]): DataFrame =
    spark.baseRelationToDataFrame(new MergedBuckets(spark, s, files))
}

/** [[SnapshotRead.merged]]'s relation: one task per bucket. Files are
  * read at the asked-for columns plus the key and `_lsn`, which
  * resolution needs. Only filters on the key reach the parquet
  * readers (they skip row groups):
  * resolution is per key, so dropping other keys' rows first is exact,
  * while a filter on any other column could drop the row that wins.
  * Spark applies every filter again to the resolved rows. */
private final class MergedBuckets(spark: SparkSession, s: LakeTable.Snapshot,
    files: Seq[(LakeTable.DataFile, FileStatus)])
    extends BaseRelation with PrunedFilteredScan with FileRelation {

  override def sqlContext: SQLContext = spark.sqlContext
  override val schema: StructType = s.physicalSchema(s.schemaId)
  override def sizeInBytes: Long = files.map(_._2.getLen).sum
  override def inputFiles: Array[String] = files.map(_._2.getPath.toString).toArray
  /** the rows are Catalyst rows already */
  override def needConversion: Boolean = false

  override def buildScan(requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    // resolution needs only the key and `_lsn` beyond what is asked for
    val wanted = requiredColumns.toSet + "doc_id" + LakeTable.LsnCol
    val target = StructType(schema.filter(f => wanted(f.name)))
    val keyAt = target.fieldIndex("doc_id")
    val lsnAt = target.fieldIndex(LakeTable.LsnCol)
    val keyType = target(keyAt).dataType
    val out = requiredColumns.map(target.fieldIndex)
    val outTypes = out.map(target(_).dataType)
    val onKey = filters.filter {
      case EqualTo("doc_id", _) | In("doc_id", _) => true
      case _ => false
    }.toSeq
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    // one reader per schema id the files were written at, built on the
    // driver; rows of an older schema are aligned to the current one by
    // interpreted expressions (no generated class). Each reader takes
    // its own Hadoop conf: the parquet format writes the requested
    // schema into the conf it is given, so readers sharing one conf
    // read every schema id at the last one's types
    val readers = files.map(_._1.schemaId).distinct.map { sid =>
      val phys = StructType(s.physicalSchema(sid).filter(f => wanted(f.name)))
      val pushed = if (phys("doc_id").dataType == keyType) onKey else Nil
      val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark, s.physicalSchema(sid),
        new StructType(), phys, pushed, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf())
      val align =
        if (phys == target) None
        else Some(target.fields.toSeq.map { f =>
          Some(phys.fieldNames.indexOf(f.name)).filter(_ >= 0).fold[Expression](Literal(null, f.dataType)) { i =>
            val in = BoundReference(i, phys(i).dataType, nullable = true)
            if (SchemaCompat.sameIgnoreNullability(phys(i).dataType, f.dataType)) in
            else Cast(in, f.dataType, tz)
          }
        })
      sid -> (read, align)
    }.toMap
    val buckets = files.groupBy(_._1.bucket).toSeq.sortBy(_._1).map { case (_, fs) =>
      fs.map { case (f, st) => (st.getPath.toString, st.getLen, f.schemaId, f.delta) } }
    spark.sparkContext.parallelize(buckets, buckets.size).mapPartitions(_.flatMap { fs =>
      SessionBridge.countingInput {
        def read(path: String, len: Long, sid: Int): Iterator[InternalRow] = {
          val (reader, align) = readers(sid)
          val it = reader(PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path), 0L, len,
            Array.empty, 0L, len, Map.empty))
          align.fold(it) { exprs =>
            val p = InterpretedUnsafeProjection.createProjection(exprs)
            it.map(p)
          }
        }
        def key(r: InternalRow): Any = r.get(keyAt, keyType)
        val deltas = mutable.HashMap.empty[Any, InternalRow]
        fs.filter(_._4).foreach { case (path, len, sid, _) =>
          read(path, len, sid).foreach { r =>
            if (deltas.get(key(r)).forall(_.getLong(lsnAt) < r.getLong(lsnAt))) {
              val c = r.copy()
              deltas(key(c)) = c
            }
          }
        }
        val base = fs.filterNot(_._4).iterator.flatMap { case (path, len, sid, _) => read(path, len, sid) }
          .map(r => deltas.remove(key(r)).filter(_.getLong(lsnAt) > r.getLong(lsnAt)).getOrElse(r))
        (base ++ deltas.valuesIterator).map { r =>
          val v = new Array[Any](out.length)
          var i = 0
          while (i < v.length) { v(i) = r.get(out(i), outTypes(i)); i += 1 }
          new GenericInternalRow(v): InternalRow
        }
      }
    }).asInstanceOf[RDD[Row]]
  }
}

/** A file index over a fixed list of files: no partitions, nothing
  * listed or refreshed. */
private final class FixedFileIndex(root: Path, files: Seq[FileStatus]) extends FileIndex {
  override def rootPaths: Seq[Path] = Seq(root)
  override def listFiles(partitionFilters: Seq[Expression], dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = Seq(PartitionDirectory(InternalRow.empty, files.toArray))
  override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.getLen).sum
  override def partitionSchema: StructType = new StructType()
}
