package graft.lake

import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import graft.apply.BatchApply
import graft.gen.ChangeLogGen
import graft.model.GenConfig
import graft.sources.KeyedSink
import graft.stream.Replay
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Concurrent-commit safety of the versioned stores: two writers over
  * one store must never silently interleave — the loser fails LOUDLY
  * and the store stays serviceable. The threaded race drives every
  * store that publishes through [[Commit.publish]]. */
class CommitCasSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .master("local[8]")
    .appName("graft-cas")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("concurrent commit loses loudly on both CAS arms; table stays serviceable") {
    val root = s"${tmpDir("graft-cas")}/t"
    val a = Replay.createTable(spark, root, nBuckets = 4)
    ChangeLogGen.write(spark, GenConfig(nEvents = 500, nDocs = 100, nShards = 2,
      nSegments = 1, evolveAtLsn = Long.MaxValue), s"${root}-log")
    BatchApply.apply(a, spark.read.parquet(s"${root}-log"), batchId = 0)

    // two handles over one table — the two-replays-one-table scenario
    val b = LakeTable.load(spark, root)
    val v = a.currentVersion
    // arm 1: the stale-expectedVersion check. A commits v+1; B, still
    // expecting v, must fail loudly instead of forking history
    a.commit(Nil, Set.empty, batchId = 1, Map.empty, Nil, v)
    val e1 = intercept[IllegalStateException](
      b.commit(Nil, Set.empty, batchId = 2, Map.empty, Nil, v))
    assert(e1.getMessage.contains("concurrent commit"))

    // arm 2: the rename race INSIDE the check window. Both handles pass
    // the version check concurrently; the descriptor's create-exclusive
    // rename makes exactly one win — simulate the loser by planting the
    // target descriptor (the winner's rename) and driving writeSnapshot
    // directly: it must refuse (false), never clobber
    val v2 = a.currentVersion
    val cur = a.snapshotAt(v2)
    val next = new org.apache.hadoop.fs.Path(root, f"snapshots/v${v2 + 1}%08d.json")
    val fs = next.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(next, false)
    out.write("PLANTED".getBytes("UTF-8")); out.close()
    val won = a.writeSnapshot(cur.copy(version = v2 + 1, parent = v2))
    assert(!won, "writeSnapshot must lose the rename race, not clobber")
    val in = fs.open(next)
    val kept = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    assert(kept == "PLANTED", "the racing winner's descriptor must survive intact")
    fs.delete(next, false)

    // both refusals left a consistent, serviceable table
    val reloaded = LakeTable.load(spark, root)
    assert(reloaded.currentVersion == v2)
    assert(reloaded.read().count() > 0)
  }

  private val Threads = 8
  private val Trials = 200

  /** One store under the race: `head` reads the version every thread
    * of a trial targets, `attempt(v)` returns the version this thread
    * published (None when it lost loudly), `serves` checks the store
    * loads and serves afterwards. */
  private case class Store(head: () => Long, attempt: Long => Option[Long], serves: () => Unit)

  private def fsOf(dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readText(dir: String, name: String): String = {
    val in = fsOf(dir).open(new Path(dir, name))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Loses iff the store threw its loud race error. */
  private def loses(msgs: String*)(publish: => Long): Option[Long] =
    try Some(publish) catch {
      case e: IllegalStateException if msgs.exists(e.getMessage.contains) => None
    }

  private def lakeTable(dir: String): Store = {
    val root = s"$dir/t"
    val t = Replay.createTable(spark, root, nBuckets = 4)
    ChangeLogGen.write(spark, GenConfig(nEvents = 200, nDocs = 50, nShards = 2,
      nSegments = 1, evolveAtLsn = Long.MaxValue), s"$dir/log")
    BatchApply.apply(t, spark.read.parquet(s"$dir/log"), batchId = 0)
    val rows = t.read().count()
    // one handle shared by the writers: the winner caches its snapshot
    Store(() => t.currentVersion,
      v => loses("commit race", "concurrent commit")(
        t.commit(Nil, Set.empty, 0, Map.empty, Nil, v).version),
      () => assert(LakeTable.load(spark, root).read().count() == rows))
  }

  private def ivmStore(dir: String): Store = {
    val t = Replay.createTable(spark, s"$dir/t", nBuckets = 4)
    ChangeLogGen.write(spark, GenConfig(nEvents = 200, nDocs = 50, nShards = 2,
      nSegments = 1, evolveAtLsn = Long.MaxValue), s"$dir/log")
    BatchApply.apply(t, spark.read.parquet(s"$dir/log"), batchId = 0, changelog = true)
    val agg = s"$dir/agg"
    val want = Ivm.sync(t, agg).collect().toSet
    val body = readText(agg, f"manifest-v${1}%08d.json")
    Store(() => Commit.versions(fsOf(agg), new Path(agg), """manifest-v(\d+)\.json""".r).last,
      v => loses("publish race") { Ivm.casWrite(spark, agg, v + 1, body); v + 1 },
      () => assert(Ivm.readAgg(spark, agg).collect().toSet == want))
  }

  private def keyedSink(dir: String): Store = {
    val path = s"$dir/store"
    import spark.implicits._
    Seq(("a", 1L, "I", 3L, "s0"), ("b", 2L, "I", 4L, "s1")).toDF("doc_id", "lsn", "op", "n_tok", "source")
      .write.format("graft-keyed-sink").option("path", path).mode("append").save()
    def served = spark.read.format("graft-keyed-sink").option("path", path).load()
      .select(col("doc_id")).collect().map(_.getString(0)).toSet
    val want = served
    val body = KeyedSink.manifestJson(KeyedSink.currentManifest(fsOf(path), path).get._2)
    Store(() => KeyedSink.currentManifest(fsOf(path), path).get._1,
      v => loses("commit race") { KeyedSink.publishManifest(fsOf(path), path, v + 1, body); v + 1 },
      () => assert(served == want))
  }

  /** Every acquirer wins an epoch; none may share one. Each then
    * releases, which tidies its marker once a newer epoch exists. */
  private def writerLease(dir: String): Store =
    Store(() => WriterLease.currentEpoch(spark, dir).getOrElse(0L),
      _ => { val l = WriterLease.acquire(spark, dir); l.release(spark); Some(l.epoch) },
      () => {
        val l = WriterLease.acquire(spark, dir)
        assert(l.epoch == Trials.toLong * Threads + 1)
        WriterLease.guard(spark, dir, Some(l))
      })

  /** (store, winners per trial): the versioned stores admit exactly one
    * publisher per version; the lease admits every acquirer, each at
    * its own epoch. */
  private val stores: Seq[(String, String => Store, Int)] = Seq(
    ("lake table", lakeTable _, 1),
    ("ivm store", ivmStore _, 1),
    ("keyed sink", keyedSink _, 1),
    ("writer lease", writerLease _, Threads))

  stores.foreach { case (name, make, winners) =>
    test(s"threaded race on the $name: $Threads writers x $Trials trials never share a version") {
      val store = make(tmpDir(s"graft-race-${name.replace(' ', '-')}"))
      val pool = Executors.newFixedThreadPool(Threads)
      val bad = try (1 to Trials).flatMap { trial =>
        val v = store.head()
        val barrier = new CyclicBarrier(Threads)
        val won = (1 to Threads).map(_ => pool.submit(new Callable[Option[Long]] {
          def call(): Option[Long] = { barrier.await(); store.attempt(v) }
        })).flatMap(_.get(60, TimeUnit.SECONDS))
        val ok = won.size == winners && won.distinct.size == winners &&
          (winners > 1 || won == Seq(v + 1))
        if (ok) None else Some(s"trial $trial at v$v: won ${won.mkString(",")}")
      } finally pool.shutdownNow()
      assert(bad.size == 0,
        s"of $Trials trials broke exclusivity, e.g. ${bad.take(3).mkString("; ")}")
      store.serves()
    }
  }
}
