package graft

import graft.apply.BatchApply
import graft.gen.ChangeLogGen
import graft.lake.LakeTable
import graft.model.GenConfig
import graft.stream.Replay
import graft.verify.Oracle
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CdcEngineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .master("local[8]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  val cfg = GenConfig(nEvents = 20000, nDocs = 3000, nShards = 4,
    hotPerMille = 100, nHotDocs = 4, avgTokens = 16, nSegments = 8,
    evolveAtLsn = 12000)

  test("generator is deterministic and shard-sticky") {
    spark.sparkContext.setLogLevel("WARN")
    val a = ChangeLogGen.events(spark, cfg)
    val b = ChangeLogGen.events(spark, cfg)
    val ha = a.agg(bit_xor(xxhash64(struct(a.columns.map(col): _*)))).head.getLong(0)
    val hb = b.agg(bit_xor(xxhash64(struct(b.columns.map(col): _*)))).head.getLong(0)
    assert(ha == hb)
    // doc_id -> shard is a function (shard-sticky keys)
    val multiShard = a.groupBy("doc_id").agg(countDistinct("shard").as("n"))
      .filter(col("n") > 1).count()
    assert(multiShard == 0)
    // lsn dense & unique
    assert(a.select("lsn").distinct().count() == cfg.nEvents)
  }

  test("single-batch MERGE matches the sequential oracle") {
    val log = ChangeLogGen.events(spark, cfg).cache()
    val dir = tmpDir("graft-batch")
    val table = Replay.createTable(spark, s"$dir/table", nBuckets = 16)
    BatchApply.apply(table, log, batchId = 0)
    val expected = Oracle.expectedState(spark, log)
    val mismatches = Oracle.diff(expected, table.read())
    assert(mismatches.isEmpty, mismatches.mkString("; "))
    // schema evolved mid-log => lang present, n_tok widened
    val sch = table.current.schema
    assert(sch.fieldNames.contains("lang"))
    assert(sch("n_tok").dataType == org.apache.spark.sql.types.LongType)
    log.unpersist()
  }

  test("re-applying a committed batch is a no-op (idempotent MERGE)") {
    val log = ChangeLogGen.events(spark, cfg).cache()
    val dir = tmpDir("graft-idem")
    val table = Replay.createTable(spark, s"$dir/table", nBuckets = 16)
    BatchApply.apply(table, log, batchId = 0)
    val v1 = table.currentVersion
    // batch-id fence: same batchId skipped outright
    BatchApply.apply(table, log, batchId = 0)
    assert(table.currentVersion == v1)
    // per-row lsn guard: same DATA under a new batchId still converges
    BatchApply.apply(table, log, batchId = 1)
    val mismatches = Oracle.diff(Oracle.expectedState(spark, log), table.read())
    assert(mismatches.isEmpty, mismatches.mkString("; "))
    log.unpersist()
  }

  test("streaming replay (multi-batch) matches oracle; lineage + watermarks recorded") {
    val dir = tmpDir("graft-stream")
    ChangeLogGen.write(spark, cfg, s"$dir/log")
    val table = Replay.replay(spark, s"$dir/log", s"$dir/table", s"$dir/cp",
      nBuckets = 16, maxFilesPerTrigger = 2)
    val log = spark.read.schema(graft.model.ChangeLog.schema).parquet(s"$dir/log")
    val mismatches = Oracle.diff(Oracle.expectedState(spark, log), table.read())
    assert(mismatches.isEmpty, mismatches.mkString("; "))
    val snap = table.current
    assert(snap.watermarks.values.max == cfg.nEvents - 1 ||
      snap.watermarks.nonEmpty) // per-shard high watermarks advanced
    assert(snap.lineage.nonEmpty) // offset range -> snapshot lineage present
    assert(snap.batchId >= 0)
  }

  test("kill mid-replay, resume from checkpoint: no duplicates, no loss") {
    val dir = tmpDir("graft-resume")
    ChangeLogGen.write(spark, cfg, s"$dir/log")
    // crash after 2 committed batches (commit lands, checkpoint may not)
    Replay.replay(spark, s"$dir/log", s"$dir/table", s"$dir/cp",
      nBuckets = 16, maxFilesPerTrigger = 1, stopAfterBatches = 2)
    val t1 = LakeTable.load(spark, s"$dir/table")
    assert(t1.current.batchId >= 0 && t1.read().count() > 0)
    // resume: the in-flight batch is replayed with the same batchId and fenced
    val table = Replay.replay(spark, s"$dir/log", s"$dir/table", s"$dir/cp",
      nBuckets = 16, maxFilesPerTrigger = 1)
    val log = spark.read.schema(graft.model.ChangeLog.schema).parquet(s"$dir/log")
    val mismatches = Oracle.diff(Oracle.expectedState(spark, log), table.read())
    assert(mismatches.isEmpty, mismatches.mkString("; "))
  }

  test("kill mid-replay with both feeds on, resume: each feed row appears once") {
    val dir = tmpDir("graft-resume-feeds")
    ChangeLogGen.write(spark, cfg.copy(nEvents = 6000, nSegments = 4), s"$dir/log")
    def run(name: String, stop: Int): LakeTable = Replay.replay(spark, s"$dir/log", s"$dir/$name",
      s"$dir/cp-$name", nBuckets = 8, maxFilesPerTrigger = 1, changelog = true, preimages = true,
      stopAfterBatches = stop)
    run("killed", stop = 2) // batch 1 commits, its checkpoint does not
    val killed = run("killed", stop = Int.MaxValue)
    val ref = run("ref", stop = Int.MaxValue)
    def rows(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.map(c => col(c).cast("string")): _*).collect().map(_.mkString("|")).toSeq.sorted
    val changes = rows(killed.readChanges(), "batch_id", "doc_id", "op", "lsn")
    val images = rows(killed.readDeltaChanges(), "batch_id", "doc_id", "sign", "lsn")
    assert(changes.nonEmpty && changes.distinct == changes)
    assert(images.nonEmpty && images.distinct == images)
    assert(changes == rows(ref.readChanges(), "batch_id", "doc_id", "op", "lsn"))
    assert(images == rows(ref.readDeltaChanges(), "batch_id", "doc_id", "sign", "lsn"))
    assert(killed.deltaFeedCovers(-1L))
  }

  test("replay runs batches in the caller's session and reuses compiled classes across runs") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = tmpDir("graft-codegen-reuse")
    // three small segments; lang from the first event, so the schema
    // evolves in run 1 and runs 2 and 3 plan the same shapes
    ChangeLogGen.write(spark, cfg.copy(nEvents = 6000, nSegments = 3, evolveAtLsn = 0),
      s"$dir/all")
    val fs = FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(s"$dir/log"))
    val sessions = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.SparkSession]
    def run(seg: Int): Long = {
      fs.listStatus(new Path(s"$dir/all")).map(_.getPath)
        .filter(_.getName.startsWith(f"seg-$seg%05d-"))
        .foreach(p => fs.rename(p, new Path(s"$dir/log", p.getName)))
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Replay.replay(spark, s"$dir/log", s"$dir/table", s"$dir/cp", nBuckets = 8,
        transform = { df => sessions += df.sparkSession; df })
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    run(0)
    run(1)
    val third = run(2)
    assert(sessions.size == 3 && sessions.forall(_ eq spark))
    assert(third == 0, s"third replay compiled $third classes")
    val log = spark.read.schema(graft.model.ChangeLog.schema).parquet(s"$dir/log")
    val mismatches = Oracle.diff(Oracle.expectedState(spark, log), LakeTable.load(spark,
      s"$dir/table").read())
    assert(mismatches.isEmpty, mismatches.mkString("; "))
  }

  test("partition checksums match between engine state and oracle") {
    val log = ChangeLogGen.events(spark, cfg.copy(nEvents = 5000)).cache()
    val dir = tmpDir("graft-cksum")
    val table = Replay.createTable(spark, s"$dir/table", nBuckets = 16)
    BatchApply.apply(table, log, batchId = 0)
    val a = Oracle.partitionChecksums(table.read(), 16).orderBy("bucket").collect()
    val b = Oracle.partitionChecksums(Oracle.expectedState(spark, log), 16).orderBy("bucket").collect()
    assert(a.sameElements(b))
    log.unpersist()
  }

  test("compaction purges tombstones without changing the visible state") {
    val log = ChangeLogGen.events(spark, cfg.copy(nEvents = 5000)).cache()
    val dir = tmpDir("graft-compact")
    val table = Replay.createTable(spark, s"$dir/table", nBuckets = 16)
    BatchApply.apply(table, log, batchId = 0)
    val before = table.read().count()
    val tombBefore = table.readPhysical().filter(col(LakeTable.DeletedCol)).count()
    assert(tombBefore > 0)
    table.compact()
    assert(table.readPhysical().filter(col(LakeTable.DeletedCol)).count() == 0)
    assert(table.read().count() == before)
    val mismatches = Oracle.diff(Oracle.expectedState(spark, log), table.read())
    assert(mismatches.isEmpty, mismatches.mkString("; "))
    log.unpersist()
  }

  test("schema evolution rejects non-additive changes") {
    val dir = tmpDir("graft-evolve")
    val table = Replay.createTable(spark, s"$dir/table", nBuckets = 4)
    val bad = org.apache.spark.sql.types.StructType(
      table.current.schema.fields.filterNot(_.name == "source"))
    intercept[IllegalArgumentException](table.evolveSchema(bad))
  }

  test("change-data feed: readChanges = canonical batch changes; fenced + replayable") {
    val log = ChangeLogGen.events(spark, cfg).cache()
    val dir = tmpDir("graft-cdf")
    val table = Replay.createTable(spark, s"$dir/table", nBuckets = 16)
    val mid = cfg.nEvents / 2
    val b1 = log.filter(col("lsn") <= mid)
    val b2 = log.filter(col("lsn") > mid)
    BatchApply.apply(table, b1, batchId = 0, changelog = true)
    BatchApply.apply(table, b2, batchId = 1, changelog = true)

    // incremental read of batch 1 == its canonical last-wins changes
    val feed1 = table.readChanges(sinceBatchId = 0)
    assert(feed1.select("batch_id").distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
    val expect = BatchApply.canonicalize(b2).select("doc_id", "lsn", "op")
    assert(feed1.count() == expect.count())
    assert(feed1.select("doc_id", "lsn", "op").exceptAll(expect).count() == 0)

    // a fenced retry of the committed batch writes and commits nothing:
    // its feed files were recorded by the commit that applied it
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def feedFiles(): Seq[String] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$dir/table/${LakeTable.ChangelogDir}"), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString).toSeq.sorted
    }
    val (v, sets, files) = (table.currentVersion, table.current.feeds, feedFiles())
    BatchApply.apply(table, b2, batchId = 1, changelog = true)
    assert(table.currentVersion == v && table.current.feeds == sets && feedFiles() == files)

    // feed files no commit recorded (a crash between the feed write and
    // the snapshot commit) are invisible: no feed set names them
    val orphan = s"$dir/table/${LakeTable.ChangelogDir}/c-orphan"
    b2.limit(10)
      .select(col("doc_id"), col("op"), col("lsn"), col("tokens"), col("n_tok"),
        col("source"), col("lang"), col("shard"), lit(7).as("batch_id"))
      .write.parquet(orphan)
    assert(table.readChanges(sinceBatchId = -1)
      .filter(col("batch_id") === 7).count() == 0)
    assert(table.readChanges(sinceBatchId = 0).count() == expect.count())

    // replaying the full feed into a second table reproduces the state
    // (the feed is a complete, canonical change stream)
    val t2 = Replay.createTable(spark, s"$dir/table2", nBuckets = 8)
    BatchApply.apply(t2, table.readChanges(sinceBatchId = -1).drop("batch_id"), batchId = 0)
    val a = table.read()
    val b = t2.read()
    assert(a.count() == b.count())
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)

    // feed retention: vacuum expires the sets past the window (cutoff =
    // current.batchId - retain) and their files, keeps the recent ones,
    // and deletes the orphaned files
    val batch0Files = table.current.feeds.filter(_.toBatch == 0).flatMap(_.files)
    assert(batch0Files.nonEmpty)
    table.vacuum(retainLast = 1, changelogRetainBatches = 1)
    assert(table.current.feeds.map(_.toBatch).toSet == Set(1L))
    assert(batch0Files.forall(f => !fs.exists(new org.apache.hadoop.fs.Path(s"$dir/table/$f"))))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(orphan)))
    assert(table.readChanges(sinceBatchId = -1).count() == expect.count())
    log.unpersist()
  }

  test("vacuum keeps committed feed files, deletes orphaned ones") {
    val log = ChangeLogGen.events(spark, cfg.copy(nEvents = 3000)).cache()
    val dir = tmpDir("graft-vacfeed")
    val table = Replay.createTable(spark, s"$dir/table", nBuckets = 8)
    BatchApply.apply(table, log.filter(col("lsn") <= 1500), batchId = 0, changelog = true, preimages = true)
    BatchApply.apply(table, log.filter(col("lsn") > 1500), batchId = 1, changelog = true, preimages = true)
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("batch_id", "doc_id", "lsn")
      .collect().map(r => (r.getInt(0), r.get(1).toString, r.getLong(2))).toSeq.sorted
    val (changes, images) = (rows(table.readChanges()), rows(table.readDeltaChanges()))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(rel: String) = fs.exists(new org.apache.hadoop.fs.Path(s"$dir/table/$rel"))
    val orphans = Seq(LakeTable.ChangelogDir, LakeTable.DeltaFeedDir, "data/c-orphan/bucket=0")
      .map(d => s"$d/orphan.parquet")
    orphans.foreach(o => fs.create(new org.apache.hadoop.fs.Path(s"$dir/table/$o")).close())
    val committed = table.current.feeds.flatMap(_.files)
    assert(committed.nonEmpty && committed.forall(exists))
    // no retention: every committed feed file stays, the orphans go
    table.vacuum(retainLast = 1)
    assert(committed.forall(exists) && !orphans.exists(exists))
    assert(rows(table.readChanges()) == changes && rows(table.readDeltaChanges()) == images)
    // a retention window past every batch expires nothing, not even a commit
    val v = table.currentVersion
    table.vacuum(retainLast = 1, changelogRetainBatches = 10)
    assert(table.currentVersion == v && committed.forall(exists))
    // a window of zero expires both feeds whole; their files go with them
    table.vacuum(retainLast = 1, changelogRetainBatches = 0)
    assert(table.current.feeds.isEmpty && !committed.exists(exists))
    assert(table.readChanges().count() == 0 && table.readDeltaChanges().count() == 0)
    assert(table.read().count() > 0)
    log.unpersist()
  }

  test("feed compaction: identical rows, one ranged store, retention stays row-exact") {
    val log = ChangeLogGen.events(spark, cfg.copy(nEvents = 5000)).cache()
    val dir = tmpDir("graft-feedcompact")
    val table = Replay.createTable(spark, s"$dir/table", nBuckets = 8)
    (0 until 4).foreach { b =>
      BatchApply.apply(table,
        log.filter(col("lsn") > b * 1000 && col("lsn") <= (b + 1) * 1000),
        batchId = b, changelog = true)
    }
    def feed(since: Long): Set[(String, String, Long, Int)] =
      table.readChanges(since).select(col("doc_id").cast("string"), col("op"),
        col("lsn"), col("batch_id").cast("int"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    def sets() = table.current.feeds.filter(_.kind == LakeTable.ChangelogDir)
      .map(f => (f.fromBatch, f.toBatch)).toSet
    val before = feed(-1)
    val beforeSince = feed(1)
    table.compactChangelog(retainRecent = 1)
    // batches 0..2 compacted into ONE set; batch 3 (live tail) stays a
    // per-batch set; a tailer sees identical rows, and since-filters
    // still prune correctly through the compacted set
    assert(sets() == Set((0L, 2L), (3L, 3L)))
    assert(feed(-1) == before)
    assert(feed(1) == beforeSince)
    assert(feed(0) == before.filter(_._4 > 0))
    // a second run with nothing new eligible is a no-op (no commit)
    val v = table.currentVersion
    table.compactChangelog(retainRecent = 1)
    assert(table.currentVersion == v)
    // more batches, compact again: the prior compacted set is subsumed —
    // still exactly one compacted set, rows still identical
    BatchApply.apply(table, log.filter(col("lsn") > 4000), batchId = 4, changelog = true)
    val before5 = feed(-1)
    table.compactChangelog(retainRecent = 1)
    assert(sets() == Set((0L, 3L), (4L, 4L)))
    assert(feed(-1) == before5)
    // retention cutoff INSIDE the compacted set: vacuum rewrites it
    // row-exactly (batches <= applied-2 = 2 expire, 3..4 remain)
    table.vacuum(retainLast = 1, changelogRetainBatches = 2)
    assert(sets() == Set((3L, 3L), (4L, 4L)))
    assert(feed(-1) == before5.filter(_._4 > 2))
    // stream-tailing a compacted feed still works end-to-end
    val down = Replay.createTable(spark, s"$dir/down", nBuckets = 8)
    BatchApply.apply(down, table.readChanges(2).drop("batch_id"), batchId = 0)
    assert(down.read().count() > 0)
    log.unpersist()
  }

  test("readChanges on a feed with no published partition yet returns an empty typed frame") {
    val dir = tmpDir("graft-emptyfeed")
    val table = Replay.createTable(spark, s"$dir/table", nBuckets = 4)
    val clDir = new org.apache.hadoop.fs.Path(s"$dir/table/${LakeTable.ChangelogDir}")
    val fs = clDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crash after the first feed write, before its commit: feed files
    // that no snapshot names
    fs.create(new org.apache.hadoop.fs.Path(s"$clDir/c-orphan/orphan.parquet")).close()
    val empty = table.readChanges()
    assert(empty.count() == 0)
    assert(empty.schema == LakeTable.changeFeedSchema(table.current.schema))
    // the first committed batch reads at the same schema (no lang in the
    // events, so the table does not evolve)
    val log = ChangeLogGen.events(spark, cfg.copy(nEvents = 500, nDocs = 100, evolveAtLsn = Long.MaxValue))
    BatchApply.apply(table, log, batchId = 0, changelog = true)
    val first = table.readChanges()
    assert(first.count() > 0 && first.schema == empty.schema)
  }

  test("feed-replay equivalence: any batch partitioning reconstructs the table from its feed") {
    // the change feed is a COMPLETE canonical change stream: however
    // the replay happened to be micro-batched, replaying the feed into
    // a fresh table (even with a different bucket count) reproduces
    // the exact state — 3 seeded random batch partitionings
    val n = 4000L
    val log = ChangeLogGen.events(spark, cfg.copy(nEvents = n)).cache()
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val cuts = (Seq(0L, n) ++ Seq.fill(3)(rnd.nextInt(n.toInt).toLong)).distinct.sorted
      val dir = tmpDir(s"graft-feedprop-$seed")
      val t1 = Replay.createTable(spark, s"$dir/t1", nBuckets = 8)
      cuts.sliding(2).zipWithIndex.foreach {
        case (Seq(lo, hi), i) =>
          BatchApply.apply(t1, log.filter(col("lsn") > lo && col("lsn") <= hi),
            batchId = i, changelog = true)
        case _ => ()
      }
      val t2 = Replay.createTable(spark, s"$dir/t2", nBuckets = 4)
      BatchApply.apply(t2, t1.readChanges(sinceBatchId = -1).drop("batch_id"), batchId = 0)
      val (x, y) = (t1.read(), t2.read())
      assert(x.count() == y.count(), s"seed $seed row count")
      assert(x.exceptAll(y).count() == 0 && y.exceptAll(x).count() == 0, s"seed $seed state")
    }
    log.unpersist()
  }

  test("pipeline chaining: a downstream table STREAM-tails the upstream's change feed") {
    // CDC out -> CDC in: given a table root instead of a binlog
    // directory, Replay tails its committed change feed sets through the
    // snapshot-driven source, `maxFilesPerTrigger` upstream batches per
    // trigger — the otsstreamreader composability story (a job tailing
    // another job's output table)
    val dir = tmpDir("graft-chain")
    val small = cfg.copy(nEvents = 6000, nSegments = 4)
    ChangeLogGen.write(spark, small, s"$dir/log")
    val a = Replay.replay(spark, s"$dir/log", s"$dir/ta", s"$dir/cpa",
      nBuckets = 8, maxFilesPerTrigger = 1, changelog = true)
    val b = Replay.replay(spark, s"$dir/ta", s"$dir/tb", s"$dir/cpb",
      nBuckets = 8, maxFilesPerTrigger = 2)
    val upstream = a.current.batchId + 1
    assert(upstream > 2 && b.current.batchId == (upstream + 1) / 2 - 1,
      s"$upstream upstream batches, 2 per trigger: ${b.current.batchId + 1} downstream")
    val x = a.read()
    val y = b.read()
    assert(x.count() > 0 && x.count() == y.count())
    assert(x.exceptAll(y).count() == 0 && y.exceptAll(x).count() == 0)
  }
}
