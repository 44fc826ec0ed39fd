package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.apply.BatchApply
import graft.lake.{Ivm, LakeTable}
import graft.model.ChangeEvent
import graft.stream.Replay
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The task-side writer behind every data and feed file: per-file
  * stats counted in the tasks, a failed write job that publishes
  * nothing, and the job budget of one applied batch. */
class TaskWriterSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .master("local[8]")
    .appName("graft-taskwriter")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** (rows, min `lsnCol`, max `lsnCol`) of one parquet file, from its
    * footer's column-chunk statistics. */
  private def readFooterStats(conf: Configuration, path: String, lsnCol: String): (Long, Long, Long) = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(path), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      val stats = blocks.flatMap(_.getColumns.asScala.find(_.getPath.toDotString == lsnCol))
        .map(_.getStatistics)
      assert(stats.nonEmpty && stats.forall(s => s != null && !s.isEmpty), s"no $lsnCol stats in $path")
      (blocks.map(_.getRowCount).sum,
        stats.map(_.genericGetMin.asInstanceOf[Number].longValue).min,
        stats.map(_.genericGetMax.asInstanceOf[Number].longValue).max)
    } finally reader.close()
  }

  private def events(lsnFrom: Long, docs: Seq[Int], op: String): DataFrame = {
    import spark.implicits._
    docs.zipWithIndex.map { case (d, i) =>
      ChangeEvent(d % 4, lsnFrom + i, op, f"doc$d%06d", Array.fill(3)(d % 97),
        java.lang.Long.valueOf(3L), Seq("wiki", "code", "books")(d % 3), null)
    }.toDF()
  }

  /** Every file below `dir` (none when it is absent), listed level by
    * level: `listFiles` cannot build a located status on `flaky:`. */
  private def filesUnder(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Seq[Path] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.flatMap(st => if (st.isDirectory) filesUnder(fs, st.getPath) else Seq(st.getPath))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  test("task-side file stats equal the parquet footers: COW merge, MOR delta, compact, rebucket") {
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val table = Replay.createTable(spark, s"${tmpDir("graft-tw-stats")}/t", nBuckets = 8)
    val conf = spark.sparkContext.hadoopConfiguration
    def added(v0: Long): Seq[LakeTable.DataFile] = {
      val before = table.snapshotAt(v0).files.map(_.path).toSet
      table.current.files.filterNot(f => before(f.path))
    }
    def check(what: String, files: Seq[LakeTable.DataFile]): Unit = {
      assert(files.nonEmpty, s"$what wrote no file")
      files.foreach { f =>
        val (n, lo, hi) = readFooterStats(conf, s"${table.root}/${f.path}", LakeTable.LsnCol)
        assert((f.rows, f.minLsn, f.maxLsn) == ((n, lo, hi)), s"$what: ${f.path}")
        val keys = spark.read.parquet(s"${table.root}/${f.path}").select("doc_id")
          .collect().map(_.getString(0)).toSeq
        assert(keys == keys.sorted, s"$what: ${f.path} is not sorted by doc_id")
      }
    }
    BatchApply.apply(table, events(0L, 0 until 4000, "I"), batchId = 0)
    var v = table.currentVersion
    BatchApply.apply(table, events(10000L, (0 until 4000 by 3) ++ (4000 until 4400), "U"), batchId = 1)
    assert(table.current.files.forall(!_.delta))
    check("COW merge", added(v))
    v = table.currentVersion
    BatchApply.apply(table, events(20000L, Seq(5, 77, 901, 1502, 2603, 3999), "U")
      .unionByName(events(30000L, Seq(11, 2222), "D")), batchId = 2)
    val deltas = added(v)
    assert(deltas.nonEmpty && deltas.forall(_.delta))
    check("MOR delta", deltas)
    v = table.currentVersion
    table.compact()
    check("compact", added(v))
    v = table.currentVersion
    table.rebucket(16)
    check("rebucket 8 -> 16", added(v))
    v = table.currentVersion
    table.rebucket(12)
    check("rebucket 16 -> 12", added(v))
    assert(table.read().count() == 4400 - 2)
  }

  test("a write job that fails after some tasks wrote files changes nothing; its retry applies each row once") {
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.sparkContext.hadoopConfiguration.set("fs.flaky.impl", classOf[FlakyFs].getName)
    val base = tmpDir("graft-tw-fail")
    val table = LakeTable.create(spark, s"flaky://$base/t", Replay.initialSchema, 8)
    val ref = LakeTable.create(spark, s"$base/ref", Replay.initialSchema, 8)
    val batches = Seq(
      events(0L, 0 until 2000, "I"),
      events(10000L, Seq(3, 40, 500, 1999), "U"),
      events(20000L, (0 until 2000 by 4) ++ (2000 until 2100), "U").unionByName(
        events(30000L, Seq(1, 2, 7), "D")))
    def applyTo(t: LakeTable, b: Int): Unit =
      BatchApply.apply(t, batches(b), batchId = b, changelog = true, preimages = true)
    (0 until 3).foreach(applyTo(ref, _))
    applyTo(table, 0)
    applyTo(table, 1)
    assert(table.current.files.exists(_.delta))

    def state(t: LakeTable) = (t.currentVersion, rows(t.read()),
      rows(t.readChanges(-1L)), rows(t.readDeltaChanges(-1L)))
    val before = state(table)
    val fs = new Path(table.root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def feedFiles(): Seq[String] = Seq(LakeTable.ChangelogDir, LakeTable.DeltaFeedDir)
      .flatMap(d => filesUnder(fs, new Path(table.root, d))).map(_.getName)
    // the last partition's task fails at its first file, after the
    // other tasks have had time to write and report theirs
    FlakyFs.failPartition = 7
    try intercept[Exception](applyTo(table, 2))
    finally FlakyFs.failPartition = -1
    assert(FlakyFs.failed.get() > 0)
    assert(feedFiles().nonEmpty, "no task wrote before the failure")
    assert(state(table) == before)

    // the retry: every feed file also gets an unreported sibling, as
    // from an attempt that died without cleaning up; no feed set names
    // one, so no read sees it
    FlakyFs.ghosts = true
    try applyTo(table, 2) finally FlakyFs.ghosts = false
    assert(FlakyFs.ghosted.get() > 0)
    val (_, got, changes, images) = state(table)
    val (_, want, refChanges, refImages) = state(ref)
    assert(got == want)
    assert(changes == refChanges && images == refImages)
    assert(table.readChanges(1L).count() == ref.readChanges(1L).select("doc_id").distinct().count())
    assert(!table.current.feeds.flatMap(_.files).exists(_.contains("ghost")))
    assert(feedFiles().exists(_.contains("ghost")))
  }

  test("a crash between the feed write and the commit leaves only orphans; the retry applies each row once") {
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.sparkContext.hadoopConfiguration.set("fs.flaky.impl", classOf[FlakyFs].getName)
    val base = tmpDir("graft-tw-crash")
    val table = LakeTable.create(spark, s"flaky://$base/t", Replay.initialSchema, 8)
    val ref = LakeTable.create(spark, s"$base/ref", Replay.initialSchema, 8)
    val batches = Seq(
      events(0L, 0 until 1000, "I"),
      events(10000L, (0 until 1000 by 3) ++ (1000 until 1050), "U").unionByName(
        events(20000L, Seq(1, 2, 7), "D")))
    def applyTo(t: LakeTable, b: Int): Unit =
      BatchApply.apply(t, batches(b), batchId = b, changelog = true, preimages = true)
    (0 until 2).foreach(applyTo(ref, _))
    applyTo(table, 0)
    def state(t: LakeTable) = (t.currentVersion, rows(t.read()), rows(t.readChanges(-1L)),
      rows(t.readDeltaChanges(-1L)), t.deltaFeedCovers(-1L), t.deltaFeedCovers(0L))
    val fs = new Path(table.root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootPath = new Path(table.root).toUri.getPath
    /** root-relative paths of every parquet file under the file dirs */
    def onDisk(): Set[String] = Seq("data", LakeTable.ChangelogDir, LakeTable.DeltaFeedDir)
      .flatMap(d => filesUnder(fs, new Path(table.root, d))).map(_.toUri.getPath)
      .filter(_.endsWith(".parquet")).map(_.stripPrefix(s"$rootPath/")).toSet
    val before = state(table)
    val files0 = onDisk()

    // the write job runs and reports its files; the descriptor publish
    // then fails: the batch's files are on disk, in no snapshot
    FlakyFs.failSnapshots = true
    try intercept[Exception](applyTo(table, 1)) finally FlakyFs.failSnapshots = false
    assert(state(table) == before)
    val orphans = onDisk() -- files0
    assert(orphans.exists(_.startsWith(LakeTable.ChangelogDir + "/")) &&
      orphans.exists(_.startsWith(LakeTable.DeltaFeedDir + "/")), s"no feed file was written: $orphans")

    // the retry yields every row, change and image exactly once
    applyTo(table, 1)
    val (_, got, changes, images, covers, coversLast) = state(table)
    val (_, want, refChanges, refImages, _, _) = state(ref)
    assert(got == want && changes == refChanges && images == refImages && covers && coversLast)
    // vacuum removes the orphans: what is left is what the snapshot names
    table.vacuum(retainLast = 1)
    val live = table.current
    assert(onDisk() == (live.files.map(_.path) ++ live.feeds.flatMap(_.files)).toSet)
    assert(orphans.intersect(onDisk()).isEmpty)
    assert(rows(table.readChanges(-1L)) == refChanges && rows(table.readDeltaChanges(-1L)) == refImages)
  }

  test("one applied batch with both feeds runs at most 6 jobs; Ivm.sync infers no schema") {
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val dir = tmpDir("graft-tw-jobs")
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 8)
    def applyBatch(b: Int, df: DataFrame): Unit =
      BatchApply.apply(table, df, batchId = b, changelog = true, preimages = true)
    applyBatch(0, events(0L, 0 until 3000, "I"))
    applyBatch(1, events(10000L, Seq(1, 50, 700, 2100), "U"))
    Ivm.sync(table, s"$dir/agg").collect()
    assert(table.current.files.exists(_.delta))

    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.add(e.stageInfos.map(_.details).mkString("\n"))
    }
    /** call sites of the jobs `body` launches */
    def jobsOf(body: => Unit): Seq[String] = {
      sites.clear()
      spark.sparkContext.addSparkListener(listener)
      try {
        body
        var (n, stable) = (-1, 0)
        while (stable < 5) { Thread.sleep(100); if (sites.size == n) stable += 1 else { n = sites.size; stable = 0 } }
      } finally spark.sparkContext.removeSparkListener(listener)
      sites.toArray(Array.empty[String]).toSeq
    }
    // the same keys again: every touched bucket has a delta file
    val applyJobs = jobsOf(applyBatch(2, events(20000L, Seq(1, 50, 700, 2100), "U")))
    assert(applyJobs.size <= 6, applyJobs.mkString("\n----\n"))
    assert(!applyJobs.exists(_.contains("footerStats")))
    val syncJobs = jobsOf(Ivm.sync(table, s"$dir/agg").collect())
    assert(syncJobs.nonEmpty)
    assert(!syncJobs.exists(_.contains("DataFrameReader.parquet")), syncJobs.mkString("\n----\n"))
    val direct = table.read().groupBy("source").agg(count(lit(1)).as("cnt"), sum("n_tok").as("s"))
    assert(rows(Ivm.readAgg(spark, s"$dir/agg")) == rows(direct))
  }
}

/** A local filesystem under its own scheme that fails or shadows
  * parquet file creates, or fails snapshot-descriptor publishes, on
  * demand (static switches: in local mode the tasks share the test's
  * JVM). */
class FlakyFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("flaky:///")
  override def getScheme: String = "flaky"

  private def before(f: Path): Unit = {
    val n = f.getName
    if (FlakyFs.failSnapshots && f.getParent.getName == "snapshots")
      throw new java.io.IOException(s"injected snapshot publish failure: $f")
    if (n.endsWith(".parquet") && !n.contains("ghost")) {
      if (n.startsWith(f"part-${FlakyFs.failPartition}%05d-")) {
        Thread.sleep(2000)
        FlakyFs.failed.incrementAndGet()
        throw new java.io.IOException(s"injected write failure: $f")
      }
      if (FlakyFs.ghosts &&
        Set(LakeTable.ChangelogDir, LakeTable.DeltaFeedDir)(f.getParent.getParent.getName)) {
        val g = super.create(new Path(f.getParent, s"ghost-${FlakyFs.ghosted.incrementAndGet()}.parquet"),
          true, 4096, 1.toShort, 1L << 20, null)
        try g.write("not parquet".getBytes("UTF-8")) finally g.close()
      }
    }
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    before(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    before(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FlakyFs {
  @volatile var failPartition: Int = -1
  @volatile var ghosts: Boolean = false
  @volatile var failSnapshots: Boolean = false
  val failed = new AtomicInteger()
  val ghosted = new AtomicInteger()
}
