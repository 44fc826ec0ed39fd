package graft.stream

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/**
 * Replay metrics — the reference's counter vocabulary
 * (`core/.../statistics/communication/CommunicationTool.java:16-50`:
 * readSucceedRecords, writeSucceedRecords, totalErrorRecords, byteSpeed,
 * recordSpeed, stage...) re-expressed over Structured Streaming:
 * read-side counts from `StreamingQueryProgress`, write/dirty-side
 * counts pushed by the foreachBatch body, and the final report is a
 * JSON file next to the table (the analog of DataX's end-of-job summary,
 * `JobContainer.logStatistics:575-647`). Per-partition lineage (source
 * offset range -> snapshot id) lives in the LakeTable snapshot itself
 * ([[graft.lake.LakeTable.Snapshot.lineage]]); this class carries the
 * throughput side.
 */
final class ReplayMetrics {
  val readRecords = new AtomicLong(0)   // rows entering the pipeline (exact: router split when
                                        // routing is on, committed lineage rows otherwise)
  val sourceRows = new AtomicLong(0)    // listener-reported input rows; OVERCOUNTS when the
                                        // foreachBatch body runs several actions (each re-scans
                                        // the source and its metric re-accumulates) — fallback only
  val writeRecords = new AtomicLong(0)  // rows surviving to the MERGE (counted in BOTH paths)
  val dirtyRecords = new AtomicLong(0)  // rows quarantined
  val dedupDroppedDocs = new AtomicLong(0) // docs dropped by LSH-index admission
  val batches = new AtomicLong(0)
  val fencedBatches = new AtomicLong(0) // retried batches skipped by the fence
  val startNanos = new AtomicLong(System.nanoTime())
  val endNanos = new AtomicLong(System.nanoTime())

  def elapsedSec: Double = (endNanos.get - startNanos.get) / 1e9

  /** Exact read count when dirty routing is on; listener fallback else. */
  def effectiveReadRecords: Long =
    if (readRecords.get > 0) readRecords.get else sourceRows.get

  def recordSpeed: Double = {
    val s = elapsedSec
    if (s <= 0) 0.0 else effectiveReadRecords / s
  }

  def toJson: String =
    s"""{"readSucceedRecords":$effectiveReadRecords,"writeSucceedRecords":${writeRecords.get},""" +
    s""""totalErrorRecords":${dirtyRecords.get},"dedupDroppedDocs":${dedupDroppedDocs.get},""" +
    s""""batches":${batches.get},""" +
    s""""fencedBatches":${fencedBatches.get},"elapsedSec":${f"$elapsedSec%.3f"},""" +
    s""""recordSpeed":${f"$recordSpeed%.1f"}}"""

  /** Write the final report under `<tableDir>/metrics/replay-<ts>.json`
    * (same two-phase rename the snapshots use). */
  def report(spark: SparkSession, tableDir: String, tag: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(tableDir), spark.sparkContext.hadoopConfiguration)
    val dir = new Path(tableDir, "metrics")
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".tmp-$tag")
    val out = fs.create(tmp, true)
    try out.write((toJson + "\n").getBytes("UTF-8")) finally out.close()
    fs.rename(tmp, new Path(dir, s"replay-$tag.json"))
  }
}

/** Query-level listener: tracks input rows per micro-batch from the
  * streaming progress events (the read-side tap DataX takes at the
  * channel, `Channel.statPush`). */
final class ReplayListener(metrics: ReplayMetrics) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    metrics.startNanos.set(System.nanoTime())

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    metrics.sourceRows.addAndGet(e.progress.numInputRows)
    metrics.endNanos.set(System.nanoTime())
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    metrics.endNanos.set(System.nanoTime())
}
