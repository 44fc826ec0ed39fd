package graft

import graft.apply.BatchApply
import graft.lake.{Commit, Ivm, LakeTable}
import graft.model.ChangeEvent
import graft.stream.Replay
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental view maintenance over the change feed: every sync lands
  * the maintained aggregate exactly on the direct groupBy of the
  * table's current state, through inserts, source-moving updates,
  * deletes, group extinction, and crash-heal of the store swap. */
class IvmSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .master("local[8]")
    .appName("graft-ivm")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def ev(lsn: Long, op: String, doc: String, nTok: Int, src: String): ChangeEvent =
    ChangeEvent((math.abs(doc.hashCode) % 4).toInt, lsn, op, doc,
      if (op == "D") null else Array.tabulate(nTok)(identity),
      if (op == "D") null else java.lang.Long.valueOf(nTok.toLong),
      if (op == "D") null else src, null)

  private def toDF(evts: Seq[ChangeEvent]): DataFrame = {
    import spark.implicits._
    evts.toDF()
  }

  private def direct(table: LakeTable): Set[(String, Long, Long)] =
    table.read().groupBy("source")
      .agg(count(lit(1)).as("cnt"), sum(col("n_tok").cast("long")).as("sum_val"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  private def served(df: DataFrame): Set[(String, Long, Long)] =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("init + incremental syncs track the direct aggregate exactly (point-lookup regime)") {
    trackExactly(tmpDir("ivm1"), keyLookupMax = Ivm.DefaultKeyLookupMax)
  }

  test("join regime (changed keys over the lookup bound) tracks identically") {
    trackExactly(tmpDir("ivm1j"), keyLookupMax = 0)
  }

  private def trackExactly(dir: String, keyLookupMax: Int): Unit = {
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 8)
    val agg = s"$dir/agg"
    def syncNow(): DataFrame =
      Ivm.sync(table, agg, keyLookupMax = keyLookupMax)

    // batch 0: 60 inserts across three sources
    val b0 = (0 until 60).map(i => ev(i + 1, "I", f"d$i%04d", 2 + i % 5, s"s${i % 3}"))
    BatchApply.apply(table, toDF(b0), batchId = 0, changelog = true)
    assert(served(syncNow()) == direct(table), "full init diverged")
    assert(Ivm.syncedBatchId(spark, agg) == 0L)

    // batch 1: updates that MOVE docs between groups, deletes, inserts
    val b1 =
      (0 until 10).map(i => ev(1000 + i, "U", f"d$i%04d", 10, "s0")) ++ // s1/s2 -> s0
      (20 until 25).map(i => ev(1100 + i, "D", f"d$i%04d", 0, null)) ++
      (0 until 8).map(i => ev(1200 + i, "I", f"n$i%04d", 7, "s3"))      // new group
    BatchApply.apply(table, toDF(b1), batchId = 1, changelog = true)
    assert(served(syncNow()) == direct(table), "incremental sync diverged")
    assert(Ivm.syncedBatchId(spark, agg) == 1L)

    // batch 2: drive group s3 extinct, flip a doc back and forth
    val b2 =
      (0 until 8).map(i => ev(2000 + i, "D", f"n$i%04d", 0, null)) ++
      Seq(ev(2100, "U", "d0000", 3, "s2"), ev(2101, "U", "d0000", 4, "s1"))
    BatchApply.apply(table, toDF(b2), batchId = 2, changelog = true)
    val after2 = syncNow()
    assert(served(after2) == direct(table), "delete/extinction sync diverged")
    assert(!served(after2).exists(_._1 == "s3"), "extinct group must drop out")

    // no-op sync: nothing new, result unchanged
    assert(served(syncNow()) == direct(table))
    assert(Ivm.syncedBatchId(spark, agg) == 2L)
  }

  test("sumCol accepts an expression over the wide payload column") {
    val dir = tmpDir("ivm-wide")
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 4)
    val agg = s"$dir/agg"
    val wide = "aggregate(tokens, 0L, (a, x) -> a + x)"
    def directWide(): Set[(String, Long, Long)] =
      table.read().groupBy("source")
        .agg(count(lit(1)).as("cnt"), sum(expr(wide).cast("long")).as("sum_val"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val b0 = (0 until 30).map(i => ev(i + 1, "I", f"w$i%04d", 3 + i % 4, s"s${i % 2}"))
    BatchApply.apply(table, toDF(b0), batchId = 0, changelog = true)
    assert(served(Ivm.sync(table, agg, sumCol = wide)) == directWide())
    // incremental: updates change token contents, a delete, an insert
    val b1 = Seq(ev(100, "U", "w0000", 9, "s1"), ev(101, "D", "w0001", 0, null),
      ev(102, "I", "w9999", 5, "s0"))
    BatchApply.apply(table, toDF(b1), batchId = 1, changelog = true)
    assert(served(Ivm.sync(table, agg, sumCol = wide)) == directWide())
  }

  test("crash debris is invisible; a concurrent publish loses the CAS loudly") {
    val dir = tmpDir("ivm2")
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 4)
    val agg = s"$dir/agg"
    val b0 = (0 until 20).map(i => ev(i + 1, "I", f"x$i%04d", 3, s"s${i % 2}"))
    BatchApply.apply(table, toDF(b0), batchId = 0, changelog = true)
    val want = served(Ivm.sync(table, agg))

    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(agg), spark.sparkContext.hadoopConfiguration)
    // crash window: a data dir written but its manifest never landed —
    // readers must not see it (manifest-listed dirs only)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$agg/data-deadbeef"))
    assert(served(Ivm.readAgg(spark, agg)) == want, "orphan data dir must be invisible")

    // CAS race (the rename-window arm, the CommitCasSpec discipline):
    // a concurrent winner's manifest already occupies the next version
    // — the loser's create-exclusive write must fail LOUDLY and never
    // clobber the winner's file
    val stolen = new org.apache.hadoop.fs.Path(f"$agg/manifest-v${2}%08d.json")
    val out = fs.create(stolen, false)
    out.write("PLANTED".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalStateException](Ivm.casWrite(spark, agg, 2L, "{}"))
    assert(e.getMessage.contains("publish race"), e.getMessage)
    val in = fs.open(stolen)
    val kept = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    assert(kept == "PLANTED", "the racing winner's manifest must survive intact")
    // hand the store back and confirm it still tracks
    fs.delete(stolen, false)
    val b1 = Seq(ev(100, "I", "y0001", 9, "s9"))
    BatchApply.apply(table, toDF(b1), batchId = 1, changelog = true)
    assert(served(Ivm.sync(table, agg)) == direct(table))
  }

  test("pure-feed sync: zero table reads, value-exact through update/delete/extinction") {
    val dir = tmpDir("ivm-feed")
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 8)
    val agg = s"$dir/agg"
    val b0 = (0 until 60).map(i => ev(i + 1, "I", f"d$i%04d", 2 + i % 5, s"s${i % 3}"))
    BatchApply.apply(table, toDF(b0), batchId = 0, changelog = true, preimages = true)
    assert(served(Ivm.sync(table, agg)) == direct(table), "full init diverged")

    // batch 1: group-moving updates, deletes, new group, and a STALE
    // change that must lose the lsn merge (and contribute nothing)
    val b1 =
      (0 until 10).map(i => ev(1000 + i, "U", f"d$i%04d", 10, "s0")) ++
      (20 until 25).map(i => ev(1100 + i, "D", f"d$i%04d", 0, null)) ++
      (0 until 8).map(i => ev(1200 + i, "I", f"n$i%04d", 7, "s3")) :+
      ev(1, "U", "d0030", 99, "s9") // lsn 1 <= existing: loses
    BatchApply.apply(table, toDF(b1), batchId = 1, changelog = true, preimages = true)
    // batch 2: drive s3 extinct, flip a doc back and forth
    val b2 =
      (0 until 8).map(i => ev(2000 + i, "D", f"n$i%04d", 0, null)) ++
      Seq(ev(2100, "U", "d0000", 3, "s2"), ev(2101, "U", "d0000", 4, "s1"))
    BatchApply.apply(table, toDF(b2), batchId = 2, changelog = true, preimages = true)
    val want = direct(table)

    // the zero-table-read assertion: hide the table's data files — a
    // sync that touches ANY table data now fails loudly; the pure-feed
    // path must succeed and stay exact
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/t/data"),
      new org.apache.hadoop.fs.Path(s"$dir/t/data.hidden")))
    try {
      val got = served(Ivm.sync(table, agg))
      assert(got == want, s"pure-feed sync diverged: $got vs $want")
      assert(!got.exists(_._1 == "s3"), "extinct group must drop out")
      assert(Ivm.syncedBatchId(spark, agg) == 2L)
    } finally fs.rename(new org.apache.hadoop.fs.Path(s"$dir/t/data.hidden"),
      new org.apache.hadoop.fs.Path(s"$dir/t/data"))
    // no-op re-sync and a later mixed-mode batch (no preimages -> the
    // snapshot-diff fallback) both still track
    assert(served(Ivm.sync(table, agg)) == want)
    val b3 = Seq(ev(3000, "I", "z0001", 6, "s1"))
    BatchApply.apply(table, toDF(b3), batchId = 3, changelog = true)
    assert(served(Ivm.sync(table, agg)) == direct(table), "mixed-mode fallback diverged")
  }

  test("partitioned state: a small sync rewrites a strict subset of state buckets") {
    val dir = tmpDir("ivm-part")
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 8)
    val agg = s"$dir/agg"
    // high-cardinality view: group by doc_id itself (100k+ groups)
    val n = 100000
    import spark.implicits._
    val b0 = (0 until n).map(i =>
      (f"g$i%06d", (i + 1).toLong, "I", Seq(i % 7), 1 + i % 7, s"s${i % 4}", null.asInstanceOf[String], i % 4))
      .toDF("doc_id", "lsn", "op", "tokens", "n_tok", "source", "lang", "shard")
    BatchApply.apply(table, b0, batchId = 0, changelog = true, preimages = true)
    Ivm.sync(table, agg, grp = "doc_id", sumCol = "n_tok")
    val parts0 = Ivm.manifestParts(spark, agg)
    assert(parts0.size == Ivm.DefaultStateBuckets, s"init must fill all buckets: ${parts0.size}")

    // one changed group -> exactly the buckets holding it rewrite
    val b1 = Seq(ev(1000000L, "U", "g000042", 9, "sX"))
    BatchApply.apply(table, toDF(b1), batchId = 1, changelog = true, preimages = true)
    Ivm.sync(table, agg, grp = "doc_id", sumCol = "n_tok")
    val parts1 = Ivm.manifestParts(spark, agg)
    val changed = parts1.filter { case (pb, d) => parts0.get(pb) != Some(d) }
    assert(changed.nonEmpty && changed.size < parts0.size / 2,
      s"one-group sync must rewrite a strict subset of buckets, rewrote ${changed.size}/${parts1.size}")
    val stable = parts1.keySet.intersect(parts0.keySet) -- changed.keySet
    assert(stable.forall(pb => parts1(pb) == parts0(pb)),
      "unchanged buckets must keep their existing data dirs")
    // and the served values stay exact
    val got = Ivm.readAgg(spark, agg).filter(col("doc_id") === "g000042")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 9L)), s"updated group must serve the new value: $got")
  }

  test("null-sum groups serve NULL identically on init and incremental paths") {
    val dir = tmpDir("ivm-null")
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 4)
    // group sNULL's rows all carry null n_tok (allowed for U/I here via
    // a hand-built frame); direct SQL sum() over all-nulls is NULL
    import spark.implicits._
    def frame(rows: Seq[(String, Long, String, Seq[Int], Option[Int], String)]) =
      rows.map { case (d, l, op, tk, nt, src) =>
        (d, l, op, tk, nt.map(i => java.lang.Long.valueOf(i.toLong)).orNull, src,
          null.asInstanceOf[String], 0)
      }.toDF("doc_id", "lsn", "op", "tokens", "n_tok", "source", "lang", "shard")
    val aggA = s"$dir/aggA" // init sees the all-null group
    val aggB = s"$dir/aggB" // incremental introduces it
    BatchApply.apply(table,
      frame(Seq(("a1", 1L, "I", Seq(1), None, "sNULL"), ("b1", 2L, "I", Seq(1), Some(5), "sVAL"))),
      batchId = 0, changelog = true, preimages = true)
    Ivm.sync(table, aggA)
    def sumOf(agg: String, g: String): Option[Long] = {
      val r = Ivm.readAgg(spark, agg).filter(col("source") === g).head()
      if (r.isNullAt(2)) None else Some(r.getLong(2))
    }
    assert(sumOf(aggA, "sNULL").isEmpty, "init path: all-null group must serve NULL")
    assert(sumOf(aggA, "sVAL") == Some(5L))
    Ivm.sync(table, aggB) // init B at batch 0 too
    BatchApply.apply(table,
      frame(Seq(("a2", 3L, "I", Seq(1), None, "sNULL"))),
      batchId = 1, changelog = true, preimages = true)
    Ivm.sync(table, aggA); Ivm.sync(table, aggB)
    assert(sumOf(aggA, "sNULL").isEmpty && sumOf(aggB, "sNULL").isEmpty,
      "incremental path must keep the all-null group NULL on both stores")
  }

  test("a null group key stays exact through init, pure-feed and fallback syncs") {
    val dir = tmpDir("ivm-nullgrp")
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 4)
    val agg = s"$dir/agg"
    // live rows whose `source` is null: a hand-built frame (generated
    // events null the source of deletes only)
    import spark.implicits._
    def frame(rows: Seq[(String, Long, String, Int, String)]) =
      rows.map { case (d, l, op, nt, src) =>
        (d, l, op, if (op == "D") null else Seq.fill(nt)(1),
          if (op == "D") null else java.lang.Long.valueOf(nt.toLong), src, null.asInstanceOf[String], 0)
      }.toDF("doc_id", "lsn", "op", "tokens", "n_tok", "source", "lang", "shard")
    def directNull(): Set[(Option[String], Long, Long)] =
      table.read().groupBy("source").agg(count(lit(1)), sum(col("n_tok").cast("long")))
        .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    def servedNull(df: DataFrame): Set[(Option[String], Long, Long)] =
      df.collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet

    // init: two docs in the null group, one in "a"
    BatchApply.apply(table, frame(Seq(("n1", 1L, "I", 3, null), ("n2", 2L, "I", 4, null),
      ("a1", 3L, "I", 5, "a"))), batchId = 0, changelog = true, preimages = true)
    val init = servedNull(Ivm.sync(table, agg))
    assert(init == directNull() && init.contains((None, 2L, 7L)), s"init: $init")

    // pure feed: n1 leaves the null group, a1 joins it, n3 is new in it
    BatchApply.apply(table, frame(Seq(("n1", 10L, "U", 6, "a"), ("a1", 11L, "U", 2, null),
      ("n3", 12L, "I", 1, null))), batchId = 1, changelog = true, preimages = true)
    assert(table.deltaFeedCovers(0L, 1L))
    val feed = servedNull(Ivm.sync(table, agg))
    assert(feed == directNull() && feed.contains((None, 3L, 7L)), s"pure feed: $feed")

    // fallback (no pre-images): n2 leaves for "b", n1 comes back, n3 is
    // deleted; then a range that empties the null group entirely
    BatchApply.apply(table, frame(Seq(("n2", 20L, "U", 4, "b"), ("n1", 21L, "U", 6, null),
      ("n3", 22L, "D", 0, null))), batchId = 2, changelog = true)
    assert(!table.deltaFeedCovers(1L, 2L))
    val fallback = servedNull(Ivm.sync(table, agg))
    assert(fallback == directNull() && fallback.contains((None, 2L, 8L)), s"fallback: $fallback")
    BatchApply.apply(table, frame(Seq(("n1", 30L, "U", 6, "a"), ("a1", 31L, "D", 0, null))),
      batchId = 3, changelog = true, preimages = true)
    val extinct = servedNull(Ivm.sync(table, agg))
    assert(extinct == directNull() && !extinct.exists(_._1.isEmpty), s"extinct: $extinct")
  }

  test("writer lease: a zombie sync is fenced loudly") {
    import graft.lake.WriterLease
    val dir = tmpDir("ivm-lease")
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 4)
    val agg = s"$dir/agg"
    BatchApply.apply(table,
      toDF((0 until 10).map(i => ev(i + 1, "I", f"l$i%04d", 3, s"s${i % 2}"))),
      batchId = 0, changelog = true)
    val l1 = WriterLease.acquire(spark, agg, "writer-1")
    Ivm.sync(table, agg, lease = Some(l1)) // init under the lease
    // a newer writer takes over; the zombie's next sync must abort
    val l2 = WriterLease.acquire(spark, agg, "writer-2")
    BatchApply.apply(table, toDF(Seq(ev(100, "I", "l9999", 9, "s1"))),
      batchId = 1, changelog = true)
    intercept[graft.lake.FencedWriterException](Ivm.sync(table, agg, lease = Some(l1)))
    // the fenced store also refuses lease-less mutation (one-way opt-in)
    intercept[IllegalStateException](Ivm.sync(table, agg))
    // the new owner syncs fine and the result is exact
    assert(served(Ivm.sync(table, agg, lease = Some(l2))) == direct(table))
  }

  private def manifestVersions(agg: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(agg)
    Commit.versions(root.getFileSystem(spark.sparkContext.hadoopConfiguration), root,
      """manifest-v(\d+)\.json""".r)
  }

  test("concurrent syncs of one store: one publishes per batch, the rest lose loudly") {
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    val dir = tmpDir("ivm-conc")
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 4)
    val agg = s"$dir/agg"
    BatchApply.apply(table,
      toDF((0 until 40).map(i => ev(i + 1, "I", f"c$i%04d", 2 + i % 3, s"s${i % 3}"))),
      batchId = 0, changelog = true)
    Ivm.sync(table, agg)
    val pool = Executors.newFixedThreadPool(4)
    try (1 to 2).foreach { b =>
      BatchApply.apply(table, toDF(Seq(ev(100L * b, "U", "c0001", 9, s"s$b"),
        ev(100L * b + 1, "I", f"n$b%04d", 4, "s0"), ev(100L * b + 2, "D", f"c00${10 + b}", 0, null))),
        batchId = b, changelog = true)
      val before = manifestVersions(agg).last
      val outcomes = (1 to 4).map(_ => pool.submit(new Callable[Option[IllegalStateException]] {
        def call(): Option[IllegalStateException] =
          try { Ivm.sync(table, agg); None } catch { case e: IllegalStateException => Some(e) }
      })).map(_.get(300, TimeUnit.SECONDS))
      outcomes.flatten.foreach(e => assert(e.getMessage.contains("publish race"), e.getMessage))
      assert(outcomes.contains(None), "some sync must return")
      // exactly one publish per batch, at the version after the one read
      assert(manifestVersions(agg) == Seq(before, before + 1))
      assert(Ivm.syncedBatchId(spark, agg) == b)
      assert(served(Ivm.readAgg(spark, agg)) == direct(table))
    } finally pool.shutdown()
  }

  test("a round-4 store layout (state/_meta.json, no manifest) fails loudly") {
    val dir = tmpDir("ivm-legacy")
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 4)
    val agg = s"$dir/agg"
    BatchApply.apply(table, toDF(Seq(ev(1, "I", "r0001", 3, "s0"))), batchId = 0, changelog = true)
    val meta = new org.apache.hadoop.fs.Path(s"$agg/state/_meta.json")
    val out = meta.getFileSystem(spark.sparkContext.hadoopConfiguration).create(meta)
    out.write("""{"version":1,"batchId":0}""".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalStateException](Ivm.sync(table, agg))
    assert(e.getMessage.contains("drop the directory and re-init"), e.getMessage)
    intercept[IllegalStateException](Ivm.readAgg(spark, agg))
    assert(manifestVersions(agg).isEmpty, "a legacy store must not be re-initialised over")
  }
}
