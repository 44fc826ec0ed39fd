package graft.stream

import graft.apply.BatchApply
import graft.lake.LakeTable
import graft.model.ChangeLog
import org.apache.spark.sql.{DataFrame, SessionBridge, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType, StructField, StructType}

/**
 * Replay — the Structured Streaming pipeline that tails the ordered
 * change log and applies it to the lake table.
 *
 * This replaces the reference's whole job model (Reader -> Channel ->
 * Writer, `core/.../job/JobContainer.java:96-182`) with:
 *
 *   readStream(file source over log segments, maxFilesPerTrigger)
 *     -> foreachBatch(BatchApply)  with checkpointLocation
 *
 * Resume semantics (north rule + reference `otsstreamreader` §3.3):
 * Spark's checkpoint persists source offsets (which segment files each
 * batch covered — the analog of DataX's per-shard (iterator, skipCount)
 * checkpoints, `RecordProcessor.java:186-239`); the lake snapshot
 * persists the last applied batchId + per-shard lsn watermarks (the
 * analog of DataX's stream-job `version` fencing,
 * `OTSStreamReaderSlaveProxy.java:270-285`). Killing the query at any
 * point and restarting with the same checkpoint re-plans the in-flight
 * batch with the same batchId; BatchApply's fence skips it if the commit
 * already landed — no duplicates, no loss.
 *
 * Rate limiting — the declarative analog of DataX's channel byte/record
 * flow control (`core/.../channel/Channel.java:176-239`):
 * `maxFilesPerTrigger` / `maxBytesPerTrigger` bound what the file source
 * ADMITS per micro-batch (the byteCapacity side), and `eventsPerSecond`
 * paces the foreachBatch loop so the cumulative applied rate never
 * exceeds the cap (the tps side — DataX sleeps its channel the same way,
 * `Channel.statPush` flow-control interval).
 *
 * Session: every `replay` starts a new query, and Spark runs a query's
 * micro-batches in a clone of the caller's session, with a session UUID
 * of its own. Spark caches compiled whole-stage-codegen classes under
 * (thread context class loader, source), and with artifact isolation
 * (the default) the executor keeps one class loader per session UUID,
 * so a clone per run would miss that cache and compile and JIT every
 * class again on each resume. The foreachBatch body therefore moves the
 * batch frame onto the caller's session (zero-copy, the same plan) before
 * any stage sees it: every frame derived from it, and every job it runs,
 * belongs to the caller's session, whose loader stays the same from one
 * run to the next. Those jobs also run under the caller's SQL conf,
 * adaptive execution included (a streaming clone turns it off).
 */
object Replay {

  /** Initial (pre-evolution) user schema of the doc store. */
  val initialSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = true),
    StructField("n_tok", IntegerType, nullable = true),
    StructField("source", StringType, nullable = true)))

  /** Thrown to simulate a mid-replay crash in kill/resume tests. */
  final class SimulatedKill extends RuntimeException("graft-simulated-kill")

  def createTable(spark: SparkSession, tableDir: String, nBuckets: Int): LakeTable =
    LakeTable.create(spark, tableDir, initialSchema, nBuckets)

  /** Replay everything currently in `logDir` — a change-log directory,
    * or the root of another lake table whose change feed to tail — into
    * `tableDir`, resuming
    * from `checkpointDir` if it exists. Blocks until the log is drained
    * (Trigger.AvailableNow). `stopAfterBatches` kills the query (after
    * the sink commit, before the checkpoint advances) to exercise the
    * crash/resume path. Optional hooks mirror the reference job model:
    * `transform` = the dx_* transformer chain, `quarantineDir` +
    * `errorLimit` = dirty-record routing (§2.6), `metrics` = the
    * counter tap (§2.9). */
  def replay(
      spark: SparkSession,
      logDir: String,
      tableDir: String,
      checkpointDir: String,
      nBuckets: Int = 64,
      maxFilesPerTrigger: Int = Int.MaxValue,
      maxBytesPerTrigger: Long = -1L,
      eventsPerSecond: Long = -1L,
      saltBuckets: Int = 1,
      assumeOrdered: Boolean = false,
      deltaThreshold: Double = graft.apply.BatchApply.DefaultDeltaThreshold,
      maxDeltaChain: Int = graft.apply.BatchApply.DefaultMaxDeltaChain,
      changelog: Boolean = false,
      preimages: Boolean = false,
      stopAfterBatches: Int = Int.MaxValue,
      transform: DataFrame => DataFrame = identity,
      quarantineDir: Option[String] = None,
      errorLimit: graft.apply.DirtyRouter.ErrorLimit = graft.apply.DirtyRouter.ErrorLimit(),
      dedup: Option[graft.model.DedupSpec] = None,
      metrics: Option[ReplayMetrics] = None,
      logFormat: String = "parquet"): LakeTable = {

    val table =
      if (LakeTable.exists(spark, tableDir)) LakeTable.load(spark, tableDir)
      else createTable(spark, tableDir, nBuckets)

    // Envelope logs can carry malformed lines (parse -> null-key/null-op
    // rows); without routing those would flow INTO the merge and write a
    // null-doc_id row — silent table pollution. So a debezium replay
    // with no explicit dirty-handling config gets errorLimit.record=0:
    // the first malformed line fails the job loudly, and the user opts
    // into tolerance via quarantineDir/errorLimit exactly like any
    // other dirty source. Typed parquet logs keep routing fully opt-in
    // (their source schema already enforces well-formed rows).
    val effLimit =
      if (logFormat == "debezium" && quarantineDir.isEmpty &&
        errorLimit.record < 0 && errorLimit.percentage.isNaN)
        graft.apply.DirtyRouter.ErrorLimit(record = 0)
      else errorLimit
    val routeDirty = quarantineDir.isDefined ||
      effLimit.record >= 0 || !effLimit.percentage.isNaN

    // dedup.lease: fence the dedup index for THIS run — a second replay
    // acquiring later owns the index and this stream's next admission
    // fails loudly (FencedWriterException) instead of interleaving
    // appends with the new owner (see [[graft.lake.WriterLease]])
    val indexLease: Option[graft.lake.WriterLease] = dedup.collect {
      case dx if dx.lease =>
        graft.lake.WriterLease.acquire(spark, dx.indexDir, s"replay:$checkpointDir")
    }

    val listener = metrics.map { m =>
      val l = new ReplayListener(m)
      spark.streams.addListener(l)
      l
    }

    // a table root is tailed through its snapshots' change feed sets
    // ([[FeedTail]], `maxFilesPerTrigger` upstream batches per trigger).
    // Otherwise the file source: it rejects files+bytes caps together,
    // and the byte cap (DataX byteCapacity analog) takes precedence when
    // configured. logFormat selects the wire decoding: "parquet" = typed
    // log segments read under the explicit ChangeLog schema; "debezium"
    // = JSON-lines envelopes decoded by the CdcEnvelope codec (one fused
    // projection riding the text scan — malformed lines surface as
    // null-key/null-op rows for the dirty router, never a stream stop)
    val reader = logFormat match {
      case "parquet" => spark.readStream.schema(ChangeLog.schema)
      case "debezium" => spark.readStream
      case other => throw new IllegalArgumentException(
        s"reader.format must be 'parquet' or 'debezium', got '$other'")
    }
    val tail = LakeTable.exists(spark, logDir)
    if (maxBytesPerTrigger > 0 && !tail) reader.option("maxBytesPerTrigger", maxBytesPerTrigger)
    else reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
    val stream =
      if (tail) reader.format(classOf[FeedTail].getName).load(logDir)
      else if (logFormat == "parquet") reader.parquet(logDir)
      else graft.sources.CdcEnvelope.parse(reader.text(logDir))

    var batches = 0
    var appliedRows = 0L
    // cumulative clean/dirty across THIS run's batches, for the job-END
    // percentage check (reference semantics: record limit during the
    // run, percentage at job end — JobContainer.java:962-966)
    var cumClean = 0L
    var cumDirty = 0L
    val paceStart = System.nanoTime()
    val query = stream.writeStream
      .queryName("graft-replay")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (streamed: DataFrame, batchId: Long) =>
        // run the batch in the caller's session, not the query's clone
        // (see the class doc: compiled classes are reused across runs)
        val raw = SessionBridge.onSession(streamed, spark)
        // dirty routing AND its metrics sit BEHIND the batch-id fence: a
        // foreachBatch retry of an already-committed batch (crash between
        // lake commit and checkpoint — exactly what stopAfterBatches
        // exercises) must not re-quarantine rows or double-count. The
        // quarantine write is additionally idempotent per batch
        // (batch-scoped overwrite path in DirtyRouter).
        val fenced = batchId >= 0 && batchId <= table.current.batchId
        val split =
          if (fenced || !routeDirty) None
          else Some(graft.apply.DirtyRouter.route(
            transform(raw), batchId, quarantineDir, effLimit))
        var admission: Option[graft.operators.LshIndex.Admission] = None
        var canonicalCache: Option[DataFrame] = None
        try {
          if (!fenced) {
            val cleanBatch = split.map(_.clean).getOrElse(transform(raw))
            // near-dup admission (dedup-on-ingest) rides the batch's
            // CANONICALIZE shuffle: one row per doc, already
            // hash-partitioned by doc_id — the probe, the drop filter
            // and the merge all reuse the same persisted frame, so
            // admission adds no extra pass over the raw events
            val snap = dedup match {
              case Some(dx) =>
                val canonical = BatchApply.prepare(
                    table, cleanBatch, saltBuckets, assumeOrdered)
                  .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
                canonicalCache = Some(canonical)
                val a = graft.operators.LshIndex.admitCanonical(
                  canonical, dx.indexDir, dx.threshold, dx.maxBucketSize, batchId,
                  dx.n, dx.k, lease = indexLease)
                admission = Some(a)
                BatchApply.applyCanonical(table, a.admitted, batchId,
                  deltaThreshold = deltaThreshold, maxDeltaChain = maxDeltaChain,
                  changelog = changelog, preimages = preimages)
              case None =>
                BatchApply.apply(table, cleanBatch, batchId, saltBuckets,
                  assumeOrdered = assumeOrdered,
                  deltaThreshold = deltaThreshold, maxDeltaChain = maxDeltaChain,
                  changelog = changelog, preimages = preimages)
            }
            if (snap.batchId == batchId) {
              appliedRows += snap.lineage.filter(_.batchId == batchId).map(_.rows).sum
              // index the admitted docs AFTER the lake commit: a crash in
              // between degrades only dedup recall, never table rows
              // (see LshIndex.indexAdmitted ordering note)
              admission.zip(dedup).foreach { case (a, dx) =>
                graft.operators.LshIndex.indexAdmitted(
                  a, dx.indexDir, dx.n, dx.k, dx.bands, lease = indexLease)
                // auto-compaction: fold the LSM tail every N batches so
                // a long replay's index file count stays bounded without
                // an operator stepping in. Serial with probe/append by
                // construction (this batch loop IS the single writer).
                if (dx.compactEvery > 0 && (batchId + 1) % dx.compactEvery == 0)
                  graft.operators.LshIndex.compact(spark, dx.indexDir, lease = indexLease)
              }
            }
            // tps cap: hold the NEXT batch back until cumulative rate
            // drops under the ceiling
            if (eventsPerSecond > 0 && appliedRows > 0) {
              val minElapsedSec = appliedRows.toDouble / eventsPerSecond
              val actualSec = (System.nanoTime() - paceStart) / 1e9
              if (actualSec < minElapsedSec)
                Thread.sleep(((minElapsedSec - actualSec) * 1000).toLong)
            }
            // writeRecords = rows the commit actually applied (committed
            // lineage) on BOTH paths, so the counter means the same thing
            // with and without routing (the router's cleanRows would
            // overcount under the assumeOrdered input fence)
            val applied = if (snap.batchId == batchId)
              snap.lineage.filter(_.batchId == batchId).map(_.rows).sum else 0L
            split.foreach { sp => cumClean += sp.cleanRows; cumDirty += sp.dirtyRows }
            metrics.foreach { m =>
              m.writeRecords.addAndGet(applied)
              admission.foreach(a => m.dedupDroppedDocs.addAndGet(a.droppedDocs))
              split match {
                case Some(sp) =>
                  m.readRecords.addAndGet(sp.cleanRows + sp.dirtyRows)
                  m.dirtyRecords.addAndGet(sp.dirtyRows)
                case None =>
                  m.readRecords.addAndGet(applied)
              }
            }
          }
        } finally {
          split.foreach(_.release())
          admission.foreach(_.release())
          canonicalCache.foreach(_.unpersist(false))
        }
        metrics.foreach { m =>
          m.batches.incrementAndGet()
          if (fenced) m.fencedBatches.incrementAndGet()
        }
        batches += 1
        // crash AFTER the lake commit but BEFORE the streaming checkpoint
        // records completion — the worst-case window for duplicates
        if (batches >= stopAfterBatches) throw new SimulatedKill
        ()
      }
      .start()
    var killed = false
    try query.awaitTermination()
    catch {
      case e: StreamingQueryException
        if causeChain(e).exists(_.isInstanceOf[SimulatedKill]) => killed = true // expected
    } finally listener.foreach(spark.streams.removeListener)
    // job-END percentage check (the run completed — a simulated kill is
    // not a job end, and the resumed run re-counts from its own start)
    if (!killed && routeDirty)
      graft.apply.DirtyRouter.checkFinal(cumClean, cumDirty, effLimit)
    table
  }

  private def causeChain(t: Throwable): Iterator[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
}
