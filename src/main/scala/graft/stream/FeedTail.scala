package graft.stream

import graft.lake.LakeTable
import graft.model.ChangeLog
import org.apache.spark.sql.{DataFrame, SQLContext, SessionBridge}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.read.streaming.{Offset => StreamOffset}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.StructType

/**
 * Streaming source over another lake table's change feed — what
 * [[Replay]] reads when its input is a table root (the otsstreamreader
 * composability story: a job tailing another job's output table).
 *
 * It follows the upstream's snapshots, not its files: the offset is the
 * upstream `batchId`, a trigger admits the next `maxFilesPerTrigger`
 * upstream batches that have a change feed set, and each micro-batch is
 * [[LakeTable.readChanges]] over its offset range, so only committed
 * feed files are ever read. Rows take the change-log schema (a column
 * the upstream lacks is null), the replay's input contract whatever the
 * upstream's schema evolution.
 */
class FeedTail extends StreamSourceProvider {
  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = (providerName, FeedTail.schema)

  override def createSource(sqlContext: SQLContext, metadataPath: String, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): Source =
    new FeedTail.Tail(LakeTable.load(sqlContext.sparkSession, parameters("path")),
      parameters.get("maxFilesPerTrigger").fold(Int.MaxValue)(_.toInt))
}

object FeedTail {
  val schema: StructType = LakeTable.asNullable(ChangeLog.schema)

  private class Tail(table: LakeTable, maxBatches: Int) extends Source with SupportsTriggerAvailableNow {
    /** the upstream batch an AvailableNow run stops at */
    private var last: Option[Long] = None

    override def schema: StructType = FeedTail.schema
    override def getOffset: Option[Offset] =
      throw new UnsupportedOperationException("admission-controlled source: latestOffset is used")
    override def getDefaultReadLimit: ReadLimit = ReadLimit.maxFiles(maxBatches)
    override def prepareForTriggerAvailableNow(): Unit = last = Some(table.current.batchId)

    override def latestOffset(start: StreamOffset, limit: ReadLimit): StreamOffset = {
      val s = table.current
      val (from, until) = (batchOf(start), last.getOrElse(s.batchId))
      val ends = s.feeds.filter(f => f.kind == LakeTable.ChangelogDir && f.toBatch > from && f.toBatch <= until)
        .map(_.toBatch).distinct.sorted
      val n = limit match { case m: ReadMaxFiles => m.maxFiles; case _ => Int.MaxValue }
      if (ends.isEmpty) start else LongOffset(ends.take(n).last)
    }

    override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
      val rows = table.readChanges(start.fold(-1L)(batchOf), batchOf(end))
      SessionBridge.asStreaming(rows.select(schema.fields.toIndexedSeq.map(f =>
        (if (rows.columns.contains(f.name)) col(f.name) else lit(null)).cast(f.dataType).as(f.name)): _*))
    }

    override def stop(): Unit = ()

    /** -1 before the first batch; a checkpointed offset is its json */
    private def batchOf(o: StreamOffset): Long = if (o == null) -1L else o.json.toLong
  }
}
