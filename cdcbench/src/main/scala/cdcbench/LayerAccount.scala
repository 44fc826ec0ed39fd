package cdcbench

import java.io.File

import scala.collection.mutable

/**
 * Per-layer figures of a traced run, each per round of the timed
 * section: Spark job time, task CPU and I/O by the layer that submitted
 * the job ([[JobTrace]]), streaming trigger phases, files and bytes the
 * stores gained, and snapshot diffs of the table.
 */
final class LayerAccount(ctx: Ctx, w: Workload) {
  val spans: Spans = ctx.spans
  private val dirs = mutable.HashMap.empty[String, (Long, Long)]
  private val versions = mutable.HashMap.empty[String, Long]
  private val total = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private val steps = mutable.ArrayBuffer.empty[(Int, Step)]
  private val opMs = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]

  observe(count = false)

  /** Store sizes and table versions since the last look. A store or
    * table at a path not seen before counts from empty. */
  private def observe(count: Boolean): Unit = {
    val tableDirs = w.table.toSeq.flatMap { t =>
      Seq("lake.meta" -> s"${t.root}/snapshots", "lake.meta" -> s"${t.root}/manifests")
    }
    (w.stores.toSeq ++ tableDirs).foreach { case (layer, dir) =>
      val (b, n) = Probe.dirBytes(new File(dir))
      val (b0, n0) = dirs.getOrElse(dir, (0L, 0L))
      dirs(dir) = (b, n)
      if (count) {
        total(s"$layer.bytes") += b - b0
        total(s"$layer.files") += n - n0
      }
    }
    w.table.foreach { t =>
      val v1 = t.currentVersion
      val v0 = versions.getOrElse(t.root, 0L)
      versions(t.root) = v1
      if (count) ((v0 + 1) to v1).foreach { v =>
        val before = t.snapshotAt(v - 1).files.map(_.path).toSet
        val added = t.snapshotAt(v).files.filterNot(f => before(f.path))
        total("lake.data_bytes_written") += added.map(f => new File(t.root, f.path).length).sum
        total("lake.data_files_written") += added.size
        total("lake.cow_buckets") += added.filterNot(_.delta).map(_.bucket).distinct.size
        total("lake.delta_files") += added.count(_.delta)
      }
    }
  }

  def afterRound(startMs: Long, endMs: Long, r: RoundStat): Unit = {
    val id = spans.add(0, "round", startMs, endMs, Map("events" -> r.events.toString))
    r.steps.foreach { st =>
      steps += ((spans.add(id, st.name, st.startMs, st.endMs), st))
      if (r.progress.isEmpty) opMs.getOrElseUpdate(st.name, mutable.ArrayBuffer.empty) += st.ms
    }
    r.progress.foreach { p =>
      def s(keys: String*) = keys.map(Progress.ms(p, _)).sum / 1e3
      total("stream.batches") += 1
      total("stream.add_batch_s") += s("addBatch")
      total("stream.offset_log_s") += s("latestOffset", "walCommit", "commitOffsets")
      total("stream.planning_s") += s("queryPlanning", "getBatch")
    }
    r.counts.foreach { case (k, v) => total(k) += v }
    observe(count = true)
  }

  def metrics(timedStartMs: Long, timedEndMs: Long, rounds: Seq[RoundStat], compiles: Long,
      gc: Double, jit: Double, steal: Double, heapLive: Double): Seq[(String, Double, String)] = {
    ctx.drain()
    val trace = ctx.trace.get
    val jobs = trace.jobs.toArray(Array.empty[JobRec]).toSeq.filter(j => j.startMs >= timedStartMs && j.startMs <= timedEndMs && j.layer != "bench")
    jobs.foreach { j =>
      val t = trace.totals(j)
      val parent = steps.find { case (_, st) => j.startMs >= st.startMs && j.startMs <= st.endMs }
        .map(_._1).getOrElse(0)
      spans.add(parent, s"job-${j.id}", j.startMs, j.endMs, Map("layer" -> j.layer, "site" -> j.site))
      total(s"${j.layer}.job_s") += (j.endMs - j.startMs) / 1e3
      total(s"${j.layer}.task_cpu_s") += t.cpuNs / 1e9
      total(s"${j.layer}.bytes_read") += t.bytesRead
      total(s"${j.layer}.shuffle_bytes") += t.shuffleBytes
    }
    val intervals = jobs.map(j => (j.startMs, j.endMs))
    steps.foreach { case (_, st) =>
      total("driver.serial_s") += (st.ms - Intervals.covered(intervals, st.startMs, st.endMs)) / 1e3
      total("driver.jobs") += jobs.count(j => j.startMs >= st.startMs && j.startMs <= st.endMs)
    }
    val n = rounds.size.toDouble
    def per(k: String) = total(k) / n
    def p50(op: String) = opMs.get(op).map(b => Main.median(b.toSeq)).getOrElse(0.0)
    val batchMs = rounds.filter(_.progress.nonEmpty).flatMap(_.steps.map(_.ms))
    Seq(
      ("stream.batches", per("stream.batches"), "count"),
      ("stream.batch_p50_ms", if (batchMs.isEmpty) 0.0 else Main.median(batchMs), "ms"),
      ("stream.add_batch_s", per("stream.add_batch_s"), "s"),
      ("stream.offset_log_s", per("stream.offset_log_s"), "s"),
      ("stream.planning_s", per("stream.planning_s"), "s"),
      ("driver.serial_s", per("driver.serial_s"), "s"),
      ("driver.jobs", per("driver.jobs"), "count"),
      ("spark.codegen_compiles", compiles / n, "count"),
      ("apply.job_s", per("apply.job_s"), "s"),
      ("apply.task_cpu_s", per("apply.task_cpu_s"), "s"),
      ("apply.shuffle_bytes", per("apply.shuffle_bytes"), "B"),
      ("lake.job_s", per("lake.job_s"), "s"),
      ("lake.task_cpu_s", per("lake.task_cpu_s"), "s"),
      ("lake.bytes_read", per("lake.bytes_read"), "B"),
      ("lake.data_bytes_written", per("lake.data_bytes_written"), "B"),
      ("lake.data_files_written", per("lake.data_files_written"), "count"),
      ("lake.meta_bytes_written", per("lake.meta.bytes"), "B"),
      ("lake.cow_buckets", per("lake.cow_buckets"), "count"),
      ("lake.delta_files", per("lake.delta_files"), "count"),
      ("feed.bytes_written", per("feed.bytes") + per("feed_delta.bytes"), "B"),
      ("feed.files_written", per("feed.files") + per("feed_delta.files"), "count"),
      ("dedup.job_s", per("dedup.job_s"), "s"),
      ("dedup.task_cpu_s", per("dedup.task_cpu_s"), "s"),
      ("dedup.index_bytes_written", per("dedup.bytes"), "B"),
      ("ivm.job_s", per("ivm.job_s"), "s"),
      ("ivm.bytes_read", per("ivm.bytes_read"), "B"),
      ("export.job_s", per("export.job_s"), "s"),
      ("export.rows", per("export.rows"), "count"),
      ("read.job_s", per("read.job_s"), "s"),
      ("read.bytes_read", per("read.bytes_read"), "B"),
      ("other.job_s", per("stream.job_s") + per("other.job_s"), "s"),
      ("consumer.apply_p50_ms", p50("apply"), "ms"),
      ("consumer.sync_p50_ms", p50("sync"), "ms"),
      ("consumer.export_p50_ms", p50("export"), "ms"),
      ("consumer.lookup_p50_ms", p50("lookup"), "ms"),
      ("consumer.scan_p50_ms", p50("scan"), "ms"),
      ("jvm.gc_s", gc / n, "s"),
      ("jvm.jit_s", jit / n, "s"),
      ("jvm.heap_live_mb", heapLive, "MB"),
      ("host.steal_s", steal / n, "s"))
  }
}
