package graft

import graft.apply.BatchApply
import graft.gen.ChangeLogGen
import graft.lake.LakeTable
import graft.model.GenConfig
import graft.stream.Replay
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** Manifest-list metadata scalability (VERDICT r2 #3): commit metadata
  * must be O(batch files) not O(table files), the manifest list must
  * stay bounded via consolidation, vacuum must expire old snapshots,
  * and legacy (inline-file / unstamped) descriptors must stay
  * readable. */
class LakeManifestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("graft-manifest-test")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def descriptorJson(root: String, v: Long): JValue =
    JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "snapshots", f"v$v%08d.json")), "UTF-8"))

  private def manifestJson(root: String, rel: String): JValue =
    JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, rel)), "UTF-8"))

  /** Rewrite a file Hadoop's LocalFileSystem will re-read: drop the
    * stale .crc sidecar the checksumming FS left behind. */
  private def rewrite(p: java.nio.file.Path, content: String): Unit = {
    java.nio.file.Files.write(p, content.getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      p.getParent.resolve("." + p.getFileName.toString + ".crc"))
  }

  test("commit metadata is O(batch files): descriptor has no inline file list; " +
      "delta manifest lists only the batch's files") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = tmpDir("graft-manifest")
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 32)
    val cfg = GenConfig(nEvents = 4000, nDocs = 800, nShards = 4)
    // batch 0 populates all 32 buckets; batches 1..4 each touch a few
    BatchApply.apply(table, ChangeLogGen.events(spark, cfg), batchId = 0)
    val totalFilesAfter0 = table.current.files.size
    (1 to 4).foreach { b =>
      val lo = 4000L + (b - 1) * 10
      BatchApply.apply(table,
        ChangeLogGen.events(spark, cfg.copy(nEvents = lo + 10), lo = lo, hi = lo + 10),
        batchId = b)
      val snap = table.current
      val desc = descriptorJson(s"$dir/t", snap.version)
      assert((desc \ "files") == JNothing, "descriptor must not inline the file list")
      val manifests = (desc \ "manifests").asInstanceOf[JArray].arr
        .collect { case JString(p) => p }
      // newest delta manifest lists only THIS batch's files (a few
      // touched buckets), never the whole table
      val newest = manifestJson(s"$dir/t", manifests.last)
      val added = (newest \ "added").asInstanceOf[JArray].arr.size
      val replaced = (newest \ "replacedBuckets").asInstanceOf[JArray].arr.size
      assert(added < totalFilesAfter0,
        s"delta manifest has $added entries — O(table), expected O(batch)")
      assert(added == snap.files.count(f =>
        (newest \ "added").asInstanceOf[JArray].arr.exists(a =>
          (a \ "path") == JString(f.path))))
      assert(replaced <= 10, s"a 10-event batch replaced $replaced buckets")
    }
    // fold of the manifest list == the in-memory live file set
    val reloaded = LakeTable.load(spark, s"$dir/t")
    assert(reloaded.current.files.map(_.path).sorted == table.current.files.map(_.path).sorted)
    // and the data still reads correctly end-to-end
    val full = ChangeLogGen.events(spark, cfg.copy(nEvents = 4040))
    val mism = graft.verify.Oracle.diff(
      graft.verify.Oracle.expectedState(spark, full), reloaded.read())
    assert(mism.isEmpty, mism.mkString("; "))
  }

  test("manifest list consolidates past the threshold and stays bounded") {
    val dir = tmpDir("graft-compactm")
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 8)
    val cfg = GenConfig(nEvents = 1000, nDocs = 200, nShards = 2)
    var maxManifests = 0
    (0 until 20).foreach { b =>
      val lo = b * 50L
      BatchApply.apply(table,
        ChangeLogGen.events(spark, cfg.copy(nEvents = lo + 50), lo = lo, hi = lo + 50),
        batchId = b)
      maxManifests = math.max(maxManifests, table.current.manifests.size)
    }
    assert(maxManifests <= LakeTable.CompactManifestsAt,
      s"manifest list grew to $maxManifests > ${LakeTable.CompactManifestsAt}")
    // 20 commits crossed the threshold at least once -> a consolidation
    // happened and the state survived it
    assert(table.current.manifests.size < 20)
    val full = ChangeLogGen.events(spark, cfg.copy(nEvents = 1000))
    val mism = graft.verify.Oracle.diff(
      graft.verify.Oracle.expectedState(spark, full), table.read())
    assert(mism.isEmpty, mism.mkString("; "))
  }

  test("vacuum expires old snapshots; retained ones stay time-travelable") {
    val dir = tmpDir("graft-expire")
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 8)
    val cfg = GenConfig(nEvents = 1000, nDocs = 200, nShards = 2)
    (0 until 4).foreach { b =>
      val lo = b * 250L
      BatchApply.apply(table,
        ChangeLogGen.events(spark, cfg.copy(nEvents = lo + 250), lo = lo, hi = lo + 250),
        batchId = b)
    }
    assert(table.listVersions.size == 5) // create + 4 commits
    val vBefore = table.currentVersion
    val countAtPrev = table.read(Some(table.snapshotAt(vBefore - 1))).count()
    table.vacuum(retainLast = 2)
    // only the last two descriptors survive
    assert(table.listVersions == Seq(vBefore - 1, vBefore))
    // both retained snapshots still read (their manifests + files kept)
    assert(table.read(Some(table.snapshotAt(vBefore - 1))).count() == countAtPrev)
    assert(table.read().count() > 0)
    // default vacuum() keeps only current
    table.vacuum()
    assert(table.listVersions == Seq(vBefore))
    assert(table.read().count() > 0)
  }

  test("legacy descriptors: inline-file v2 loads and self-upgrades; absent format " +
      "fields are v1-compatible; a DECLARED bucketFn mismatch still fails loudly") {
    val dir = tmpDir("graft-legacy")
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 8)
    val cfg = GenConfig(nEvents = 1000, nDocs = 200, nShards = 2)
    BatchApply.apply(table, ChangeLogGen.events(spark, cfg), batchId = 0)
    val rows = table.read().count()
    val v = table.currentVersion
    // rewrite the current descriptor as a legacy v2: inline files, no manifests
    val desc = descriptorJson(s"$dir/t", v)
    val manifests = (desc \ "manifests").asInstanceOf[JArray].arr.collect { case JString(p) => p }
    val inlineFiles = JArray(manifests.flatMap(m =>
      (manifestJson(s"$dir/t", m) \ "added").asInstanceOf[JArray].arr))
    val legacy = desc.removeField(_._1 == "manifests") match {
      case JObject(fs) => JObject(fs.map {
        case ("formatVersion", _) => "formatVersion" -> JInt(2)
        case kv => kv
      } :+ ("files" -> (inlineFiles: JValue)))
      case other => other
    }
    rewrite(java.nio.file.Paths.get(s"$dir/t", "snapshots", f"v$v%08d.json"),
      JsonMethods.pretty(legacy))

    val t2 = LakeTable.load(spark, s"$dir/t")
    assert(t2.current.files.nonEmpty && t2.current.manifests.isEmpty)
    assert(t2.read().count() == rows, "legacy inline-file descriptor must read")
    // next commit self-upgrades to the manifest-list format
    BatchApply.apply(t2,
      ChangeLogGen.events(spark, cfg.copy(nEvents = 1050), lo = 1000, hi = 1050), batchId = 1)
    val upgraded = descriptorJson(s"$dir/t", t2.currentVersion)
    assert((upgraded \ "files") == JNothing)
    assert((upgraded \ "manifests").asInstanceOf[JArray].arr.nonEmpty)
    val full = ChangeLogGen.events(spark, cfg.copy(nEvents = 1050))
    val mism = graft.verify.Oracle.diff(
      graft.verify.Oracle.expectedState(spark, full), t2.read())
    assert(mism.isEmpty, mism.mkString("; "))

    // absent formatVersion/bucketFn (pre-stamp v1) parses as compatible
    val unstamped = legacy.removeField(f => f._1 == "formatVersion" || f._1 == "bucketFn")
    val dir2 = tmpDir("graft-legacy2")
    val t3root = s"$dir2/t"
    // clone the table dir, then strip the stamp from its descriptor
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$dir/t"), new java.io.File(t3root))
    // t2 committed v+1 in the clone source; rewrite BOTH descriptors unstamped
    val t3 = LakeTable.load(spark, t3root)
    val vlast = t3.listVersions.max
    rewrite(java.nio.file.Paths.get(t3root, "snapshots", f"v$v%08d.json"),
      JsonMethods.pretty(unstamped))
    assert(LakeTable.load(spark, t3root).snapshotAt(v).files.nonEmpty)
    // a DECLARED mismatch on bucketFn fails loudly
    val mismatched = descriptorJson(t3root, vlast) match {
      case JObject(fs) => JObject(fs.map {
        case ("bucketFn", _) => "bucketFn" -> JString("xxhash_mod")
        case kv => kv
      })
      case other => other
    }
    rewrite(java.nio.file.Paths.get(t3root, "snapshots", f"v$vlast%08d.json"),
      JsonMethods.pretty(mismatched))
    val e = intercept[IllegalArgumentException] {
      LakeTable.load(spark, t3root).current
    }
    assert(e.getMessage.contains("bucketFn"))
  }

  test("rollbackTo reinstates a prior state as a forward commit; feed stays consistent") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("graft-rollback")
    val root = s"$dir/t"
    val table = Replay.createTable(spark, root, nBuckets = 8)
    val cfg = GenConfig(nEvents = 3000, nDocs = 600, nShards = 4)
    BatchApply.apply(table, ChangeLogGen.events(spark, cfg, 0, 1000), 0, changelog = true)
    BatchApply.apply(table, ChangeLogGen.events(spark, cfg, 1000, 2000), 1, changelog = true)
    val goodV = table.currentVersion
    val goodState = table.read().orderBy("doc_id").collect()
    val goodFeed = feedRows(table)
    BatchApply.apply(table, ChangeLogGen.events(spark, cfg, 2000, 3000), 2, changelog = true)
    assert(!table.read().orderBy("doc_id").collect().sameElements(goodState))

    val rb = table.rollbackTo(goodV)
    // history moves FORWARD: new head, old versions still inspectable
    assert(rb.version == goodV + 2 && table.currentVersion == rb.version)
    assert(table.read().orderBy("doc_id").collect().sameElements(goodState))
    assert(rb.batchId == 1L)
    // the bad commit remains time-travelable until vacuumed
    assert(table.read(Some(table.snapshotAt(goodV + 1))).count() > 0)
    // feed: batch 2's changes are gone with its feed set; the feed now
    // replays to the reinstated state exactly
    assert(feedRows(table) == goodFeed)
    assert(table.readChanges().agg(max(col("batch_id"))).head().getInt(0) == 1)
    assert(table.current.feeds.map(_.toBatch).toSet == Set(0L, 1L))

    // resume ingest with a DIFFERENT batch 2: it writes its feed afresh
    val alt = ChangeLogGen.events(spark, cfg.copy(seed = 99L), 2000, 2600)
    BatchApply.apply(table, alt, 2, changelog = true)
    val feed2 = table.readChanges(sinceBatchId = 1)
    assert(feed2.select("doc_id").distinct().count() ==
      alt.select("doc_id").distinct().count(),
      "the rolled-back batch's feed must not survive the re-applied batch")

    // guards: unknown version
    intercept[IllegalArgumentException](table.rollbackTo(9999L))
    // rollback across a feed compaction: the target's manifests carry
    // its own feed sets, so its feed reads exactly as before
    table.compactChangelog(retainRecent = 0) // compacts everything applied
    assert(table.current.feeds.map(f => (f.fromBatch, f.toBatch)) == Seq((0L, 2L)))
    table.rollbackTo(goodV)
    assert(feedRows(table) == goodFeed)
    assert(table.read().orderBy("doc_id").collect().sameElements(goodState))
  }

  private def feedRows(t: LakeTable): Seq[String] =
    t.readChanges().collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  test("delta feed lifecycle: rollback restores sets, vacuum expires") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("graft-deltafeed-life")
    val root = s"$dir/t"
    val table = Replay.createTable(spark, root, nBuckets = 8)
    val cfg = GenConfig(nEvents = 3000, nDocs = 600, nShards = 4)
    (0 until 3).foreach(b => BatchApply.apply(table,
      ChangeLogGen.events(spark, cfg, b * 1000, (b + 1) * 1000), b,
      changelog = true, preimages = true))
    def deltaSets(): Set[Long] =
      table.current.feeds.filter(_.kind == LakeTable.DeltaFeedDir).map(_.toBatch).toSet
    assert(deltaSets() == Set(0L, 1L, 2L))
    // telescoping sanity: summing the whole delta feed reproduces the
    // table's live row count per source
    val viaFeed = table.readDeltaChanges()
      .groupBy("source").agg(sum(col("sign")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        .filter(_._2 != 0L)
    val direct = table.read().groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaFeed == direct, s"feed sum $viaFeed != table state $direct")

    // rollback to batch 2's version: batch 3's delta set goes with it,
    // coverage for the retained range holds
    val v2 = table.current.version
    val images = table.readDeltaChanges().count()
    BatchApply.apply(table, ChangeLogGen.events(spark, cfg, 3000, 3500), 3,
      changelog = true, preimages = true)
    assert(deltaSets() == Set(0L, 1L, 2L, 3L))
    table.rollbackTo(v2)
    assert(deltaSets() == Set(0L, 1L, 2L))
    assert(table.readDeltaChanges().count() == images)
    assert(table.deltaFeedCovers(-1L))

    // vacuum with retention 1: applied batch is 2 after the rollback,
    // so cutoff = 1: batches 0 and 1 expire from BOTH feeds
    table.vacuum(retainLast = 1, changelogRetainBatches = 1)
    assert(deltaSets() == Set(2L))
    assert(table.current.feeds.map(_.toBatch).toSet == Set(2L))
    assert(table.readDeltaChanges().select("batch_id").distinct().collect().map(_.getInt(0)).toSeq == Seq(2))
    assert(table.deltaFeedCovers(-1L))
  }

  test("feed reads honour an explicit upper batch fence") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("graft-feed-fence")
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 4)
    val cfg = GenConfig(nEvents = 800, nDocs = 300, nShards = 4)
    (0 until 4).foreach(b => BatchApply.apply(table,
      ChangeLogGen.events(spark, cfg, b * 200, (b + 1) * 200), b,
      changelog = true, preimages = true))
    assert(table.current.batchId == 3)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.select(col("batch_id")).distinct().collect().map(_.getInt(0)).toSet
    // (0, 2]: batch 3 is committed but past the fence, batch 0 below it
    assert(ids(table.readChanges(0, 2)) == Set(1, 2))
    assert(ids(table.readDeltaChanges(0, 2)) == Set(1, 2))
    assert(table.deltaFeedCovers(0, 2))
    // the default fence is the current batch
    assert(ids(table.readChanges(0)) == Set(1, 2, 3))
    // coverage is judged on the fenced range only: a batch past the
    // fence without pre-images does not break it
    BatchApply.apply(table, ChangeLogGen.events(spark, cfg, 800, 900), 4,
      changelog = true)
    assert(!table.deltaFeedCovers(0) && table.deltaFeedCovers(0, 3))
  }

  test("suggestBuckets: power-of-two sizing from live rows, clamped") {
    import LakeTable.suggestBuckets
    assert(suggestBuckets(0L) == 16) // min clamp
    assert(suggestBuckets(2000000L) == 16) // 1 bucket needed, min clamp
    assert(suggestBuckets(40000000L) == 32) // 20 buckets -> 32
    assert(suggestBuckets(64L * 2000000L) == 64) // exact boundary stays
    assert(suggestBuckets(64L * 2000000L + 1) == 128) // one over doubles
    assert(suggestBuckets(10000000000L) == 8192) // the 10^10 north scale
    assert(suggestBuckets(Long.MaxValue / 4) == (1 << 16)) // max clamp
    assert(suggestBuckets(1000000L, targetRowsPerBucket = 1000L,
      minBuckets = 1, maxBuckets = 1 << 20) == 1024)
    // parallelism floor = 2x cores (the measured bucket-ladder knee):
    // row target alone would starve the apply below the core count
    assert(suggestBuckets(25000000L) == 16) // rows alone: 12.5 -> 16
    assert(suggestBuckets(25000000L, parallelism = 32) == 64) // floor binds
    assert(suggestBuckets(10000000000L, parallelism = 32) == 8192) // rows bind
    assert(suggestBuckets(0L, parallelism = 1 << 20) == (1 << 16)) // max clamp
  }

}
