package cdcbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Per-trigger progress of every streaming query, as Structured
  * Streaming reports it. Always on: `batch_p50_ms` reads it. */
final class Progress extends StreamingQueryListener {
  private val got = new ConcurrentLinkedQueue[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0) got.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  /** Progress received since the last call (drain the bus first). */
  def take(): Seq[StreamingQueryProgress] =
    Iterator.continually(got.poll()).takeWhile(_ != null).toVector
}

object Progress {
  def ms(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
  /** Trigger start, epoch ms. */
  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
}

/** One Spark job as the traced run saw it. */
final case class JobRec(id: Int, startMs: Long, var endMs: Long, layer: String,
    site: String, stages: Seq[Int])

/** Task totals of one stage. */
final class StageTotals {
  var cpuNs = 0L
  var bytesRead = 0L
  var shuffleBytes = 0L
}

/**
 * Attributes each Spark job to the engine layer that submitted it: the
 * job's call site (the result stage's long form, innermost frame first)
 * is searched for the first frame from one of the engine files in
 * [[JobTrace.Layers]]. A streaming query pins every job's call site to
 * where the query was started, so traced replays clear that pin from
 * inside each micro-batch ([[JobTrace.unpinCallSite]]). A job submitted
 * from the benchmark's own code (it collects a frame an engine call
 * returned) falls back to the operation the benchmark marked with the
 * `cdcbench.op` local property.
 */
final class JobTrace extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]
  private val stageTotals = new java.util.concurrent.ConcurrentHashMap[Int, StageTotals]

  /** SQL execution id -> layer of the call site that started it. */
  private val execLayers = new java.util.concurrent.ConcurrentHashMap[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      JobTrace.layerOf(s.details)
        .orElse(s.rootExecutionId.flatMap(r => Option(execLayers.get(r))))
        .foreach(execLayers.put(s.executionId, _))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    // a job an execution submits from a pool thread carries the pool's
    // stack; its execution (or the root execution) still knows the caller
    val layer = JobTrace.layerOf(site)
      .orElse(Seq("spark.sql.execution.id", "spark.sql.execution.root.id").iterator
        .flatMap(k => prop(k).flatMap(id => Option(execLayers.get(id.toLong)))).nextOption())
      .orElse(prop(JobTrace.OpProperty).flatMap(JobTrace.OpLayers.get))
      .getOrElse("other")
    val rec = JobRec(e.jobId, e.time, -1L, layer, site.replace("\n", " | "), e.stageIds)
    byId.put(e.jobId, rec)
    jobs.add(rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(byId.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val t = stageTotals.computeIfAbsent(e.stageId, _ => new StageTotals)
      t.synchronized {
        t.cpuNs += m.executorCpuTime
        t.bytesRead += m.inputMetrics.bytesRead
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def totals(j: JobRec): StageTotals = {
    val sum = new StageTotals
    j.stages.flatMap(s => Option(stageTotals.get(s))).foreach { t =>
      sum.cpuNs += t.cpuNs; sum.bytesRead += t.bytesRead
      sum.shuffleBytes += t.shuffleBytes
    }
    sum
  }

}

object JobTrace {
  val OpProperty = "cdcbench.op"

  /** Layer of the innermost engine frame of a long-form call site. */
  def layerOf(site: String): Option[String] =
    site.split("\n").iterator.flatMap { line =>
      val i = line.lastIndexOf('(')
      val j = line.indexOf(':', i)
      if (i >= 0 && j > i) Layers.get(line.substring(i + 1, j)) else None
    }.nextOption()

  /** Identity on the batch; run inside a micro-batch, it drops the call
    * site the streaming query pinned on its thread, so the batch's jobs
    * carry the stack that submitted them. */
  def unpinCallSite(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sc = df.sparkSession.sparkContext
    sc.setLocalProperty("callSite.short", null)
    sc.setLocalProperty("callSite.long", null)
    df
  }

  /** Engine source file -> layer name used in the per-layer metrics. */
  val Layers: Map[String, String] = Map(
    "Replay.scala" -> "stream",
    "BatchApply.scala" -> "apply",
    "LakeTable.scala" -> "lake",
    "LshIndex.scala" -> "dedup",
    "Dedup.scala" -> "dedup",
    "Ivm.scala" -> "ivm",
    "CdcEnvelope.scala" -> "export")

  /** Benchmark operation -> layer, for jobs the benchmark submits itself. */
  val OpLayers: Map[String, String] = Map(
    "apply" -> "apply", "sync" -> "ivm", "export" -> "export",
    "lookup" -> "read", "scan" -> "read", "gen" -> "bench")
}

/** Union length of `[start, end)` intervals clipped to `[lo, hi)`, in ms. */
object Intervals {
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }
}

final case class Span(id: Int, parent: Int, name: String, startMs: Long, endMs: Long,
    attrs: Map[String, String])

/** Spans the benchmark records in traced mode; written out at the end. */
final class Spans {
  private val spans = mutable.ArrayBuffer.empty[Span]
  def add(parent: Int, name: String, startMs: Long, endMs: Long,
      attrs: Map[String, String] = Map.empty): Int = synchronized {
    val id = spans.size + 1
    spans += Span(id, parent, name, startMs, endMs, attrs)
    id
  }
  def json: String = synchronized {
    spans.map { s =>
      val a = s.attrs.map { case (k, v) => s""""$k": ${Json.str(v)}""" }.mkString(", ")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "attrs": {$a}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
