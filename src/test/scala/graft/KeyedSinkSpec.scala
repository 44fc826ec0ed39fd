package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 WRITE-side surface (SURVEY §2.3-10/11's demonstrated
  * extension point — the ES bulk-by-id / OTS PutRow-DeleteRow keyed
  * sink shape): staged-file 2PC with atomic publish + version-CAS
  * manifest, keyed last-wins upsert with tombstones, bucket-sharded
  * read-back, crash-debris invisibility, concurrent-commit refusal. */
class KeyedSinkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("graft-keyed-sink")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def changeDf(rows: Seq[(String, Long, String, java.lang.Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "lsn", "op", "n_tok", "source")
      .select(col("doc_id"), col("lsn"), col("op"),
        col("n_tok").cast("long").as("n_tok"), col("source"))
  }

  private def writeTo(path: String, df: DataFrame, buckets: Int = 4): Unit =
    df.write.format("graft-keyed-sink")
      .option("path", path).option("buckets", buckets).mode("append").save()

  private def readBack(path: String, buckets: Int = 4): DataFrame =
    spark.read.format("graft-keyed-sink")
      .option("path", path).option("buckets", buckets).load()

  private def served(path: String): Set[(String, Long, Option[Long], String)] =
    readBack(path).collect().map(r => (r.getString(0), r.getLong(1),
      if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getString(4))).toSet

  test("keyed upsert round-trip: last-wins across commits, tombstones honored") {
    spark.sparkContext.setLogLevel("WARN")
    val path = s"${tmpDir("keyed-sink")}/store"
    writeTo(path, changeDf(Seq(
      ("a", 1L, "I", 3L, "s0"), ("b", 2L, "I", 4L, "s0"),
      ("c", 3L, "I", 5L, "s1"), ("d", 4L, "I", 6L, "s1"))))
    assert(served(path) == Set(
      ("a", 1L, Some(3L), "s0"), ("b", 2L, Some(4L), "s0"),
      ("c", 3L, Some(5L), "s1"), ("d", 4L, Some(6L), "s1")))

    // second commit: update a (replace by id), delete b (tombstone),
    // insert e; c/d untouched — the bulk-by-id batch shape
    writeTo(path, changeDf(Seq(
      ("a", 10L, "U", 30L, "s9"),
      ("b", 11L, "D", null, null),
      ("e", 12L, "I", 7L, "s2"))))
    assert(served(path) == Set(
      ("a", 10L, Some(30L), "s9"),
      ("c", 3L, Some(5L), "s1"), ("d", 4L, Some(6L), "s1"),
      ("e", 12L, Some(7L), "s2")))

    // at-least-once redelivery of the same logical batch is idempotent
    writeTo(path, changeDf(Seq(("a", 10L, "U", 30L, "s9"))))
    assert(served(path).contains(("a", 10L, Some(30L), "s9")))
  }

  test("read side plans one partition per occupied bucket; crash debris invisible") {
    val path = s"${tmpDir("keyed-sink2")}/store"
    // many keys -> all 4 buckets occupied
    writeTo(path, changeDf((0 until 40).map(i =>
      (f"k$i%03d", i.toLong, "I", java.lang.Long.valueOf(i.toLong), "s"))))
    val before = served(path)
    assert(readBack(path).rdd.getNumPartitions == 4,
      "one read partition per bucket (the shard-scan shape)")

    // crash debris: a staged dir whose txn never committed must be
    // invisible (readers see only manifest-listed files)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val stray = new org.apache.hadoop.fs.Path(s"$path/.pending-bogus/b0000-p00000-t0.tsv")
    val out = fs.create(stray, true)
    out.write("zz\t999\tI\t1\tghost\n".getBytes("UTF-8")); out.close()
    assert(served(path) == before, "uncommitted staged files must never serve")
    // and a published-but-unmanifested txn dir is equally invisible
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/txn-orphan"))
    assert(served(path) == before)
  }

  test("concurrent commit loses loudly on the manifest version-CAS") {
    val path = s"${tmpDir("keyed-sink3")}/store"
    writeTo(path, changeDf(Seq(("a", 1L, "I", 1L, "s"))))
    val before = served(path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    // the race: two committers both read version v and both try to
    // publish v+1. Simulate the loser's view — the winner's v+1 lands
    // first (the plant), then the loser's publishManifest(v+1) must
    // throw on the create-exclusive, never fork history
    val (v, files) = KeyedSink.currentManifest(fs, path).get
    val winner = new org.apache.hadoop.fs.Path(path, f"manifest-v${v + 1}%08d.json")
    val o = fs.create(winner, false)
    o.write(KeyedSink.manifestJson(files).getBytes("UTF-8")); o.close()
    val e = intercept[IllegalStateException](
      KeyedSink.publishManifest(fs, path, v + 1, KeyedSink.manifestJson(Nil)))
    assert(e.getMessage.contains("commit race"))
    // the winner's manifest survives byte-intact; served state sane
    assert(served(path) == before)
    // and a NEXT writer simply versions past the winner (liveness)
    writeTo(path, changeDf(Seq(("z", 99L, "I", 1L, "s"))))
    assert(served(path).exists(_._1 == "z"))
  }
}
