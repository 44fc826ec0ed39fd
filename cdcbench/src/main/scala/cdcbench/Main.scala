package cdcbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/**
 * The CDC benchmark: one workload per JVM.
 *
 *   Main --workload <dedup_ingest|feed_consumers> --seed <n>
 *        --seconds <s> --trace <0|1> --work <dir> --out <dir>
 *
 * Set-up (inputs, preload) runs first and is reported as `setup_s`, from
 * the JVM's start. One untimed warm-up round follows, then a fixed number
 * of rounds of the same shape (`--seconds` over the workload's nominal
 * round time), then the correctness checks.
 * The last line of stdout is the result object. With `--trace 1` the
 * metrics are the per-layer figures, and the spans and per-layer JSON
 * are written under `--out`.
 */
object Main {
  val Workloads = Seq("dedup_ingest", "feed_consumers")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsolutePath
    val out = new File(opts("out")).getAbsolutePath
    new File(out).mkdirs()

    val cores = Runtime.getRuntime.availableProcessors
    val nBuckets = 8
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"cdcbench-$workload")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", nBuckets.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sparkUpS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val progress = new Progress
    spark.streams.addListener(progress)
    val trace = if (traced) Some(new JobTrace) else None
    trace.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, s"$work/data", seed, nBuckets, progress, trace, new Spans)

    val w: Workload = workload match {
      case "dedup_ingest" => new DedupIngest(ctx)
      case "feed_consumers" => new FeedConsumers(ctx)
    }
    w.setup()
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val w0 = System.nanoTime()
    w.warmup()
    println(f"setup $setupS%.1f s (Spark up at $sparkUpS%.1f s), warm-up ${(System.nanoTime() - w0) / 1e9}%.1f s")

    val layers = trace.map(_ => new LayerAccount(ctx, w))
    val noise = new Noise
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    val timedStartMs = System.currentTimeMillis()
    val rounds = mutable.ArrayBuffer.empty[RoundStat]
    val nRounds = math.round(seconds / w.nominalRoundS).toInt.max(1).min(w.maxRounds)
    while (rounds.size < nRounds) {
      val r0 = System.currentTimeMillis()
      val r = w.round()
      rounds += r
      layers.foreach(_.afterRound(r0, System.currentTimeMillis(), r))
    }
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val timedS = (System.nanoTime() - t0) / 1e9
    val timedEndMs = System.currentTimeMillis()
    val (steal, gc, jit) = (noise.steal, noise.gc, noise.jit)
    val heapLive = Probe.heapLiveMb

    val checks = w.checks()
    checks.foreach(c => println(s"check ${c.name}: ${if (c.ok) "ok" else "FAIL"} (${c.detail})"))
    val attempted = rounds.map(_.ops).sum
    val events = rounds.map(_.events).sum.toDouble
    println(s"""{"noise": {"timed_s": ${Json.num(timedS)}, "rounds": ${rounds.size}, """ +
      s""""steal_s": ${Json.num(steal)}, "gc_s": ${Json.num(gc)}, "jit_s": ${Json.num(jit)}, """ +
      s""""attempted": $attempted, "failed": 0, "round_s": [${rounds.map(r => Json.num(r.wallS)).mkString(", ")}]}}""")

    val metrics: Seq[(String, Double, String)] = layers match {
      case None => Seq(
        ("setup_s", setupS, "s"),
        ("events_per_s", events / rounds.map(_.wallS).sum, "events/s"),
        ("cpu_s", rounds.map(_.cpuS).sum, "s"),
        ("write_bytes_per_event", rounds.map(_.bytesWritten).sum.toDouble / events, "B/event"))
      case Some(acc) =>
        val m = acc.metrics(timedStartMs, timedEndMs, rounds.toSeq, compiles, gc, jit, steal, heapLive)
        val spansFile = new File(out, s"$workload-seed$seed-spans.json")
        java.nio.file.Files.writeString(spansFile.toPath, acc.spans.json)
        val layerFile = new File(out, s"$workload-seed$seed-layers.json")
        java.nio.file.Files.writeString(layerFile.toPath,
          m.map { case (k, v, u) => s"""  "$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }
            .mkString("{\n", ",\n", "\n}\n"))
        println(s"trace: wrote ${spansFile.getPath} and ${layerFile.getPath}")
        m
    }
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${checks.forall(_.ok)}, "attempted": $attempted, "failed": 0, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
    spark.stop()
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
