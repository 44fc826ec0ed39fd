package graft

import graft.gen.ChangeLogGen
import graft.model.GenConfig
import graft.sources.CdcEnvelope
import graft.stream.Replay
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Debezium-style JSON envelope codec ([[CdcEnvelope]]) and its
  * streaming-reader integration (`Replay.replay(logFormat="debezium")`). */
class CdcEnvelopeSpec extends AnyFunSuite {

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

  // small log WITH mid-stream evolution (lang appears at lsn 6000) and
  // skew, so the round-trip covers null lang, non-null lang, deletes
  val cfg = GenConfig(nEvents = 10000, nDocs = 2000, nShards = 4,
    hotPerMille = 100, nHotDocs = 4, avgTokens = 8, nSegments = 4,
    evolveAtLsn = 6000)

  private def rowKey(df: org.apache.spark.sql.DataFrame) = df.select(
    col("shard"), col("lsn"), col("op"), col("doc_id"),
    coalesce(concat_ws(",", col("tokens")), lit("∅")).as("t"),
    col("n_tok"), col("source"), col("lang"))

  test("toEnvelope -> parse round-trips the canonical rows exactly") {
    spark.sparkContext.setLogLevel("WARN")
    val events = ChangeLogGen.events(spark, cfg)
    val back = CdcEnvelope.parse(CdcEnvelope.toEnvelope(events))
    assert(rowKey(back).exceptAll(rowKey(events)).isEmpty)
    assert(rowKey(events).exceptAll(rowKey(back)).isEmpty)
  }

  test("shard derivation falls back to key hash when the wire omits it") {
    val events = ChangeLogGen.events(spark, cfg, 0, 200)
    // strip the carried shard from the wire
    val noShard = CdcEnvelope.toEnvelope(events).select(
      regexp_replace(col("value"), "\"shard\":\\d+", "\"shard\":null").as("value"))
    val parsed = CdcEnvelope.parse(noShard, nShards = 4)
    // derived shards are key-sticky and in range; payload unharmed
    assert(parsed.filter(col("shard").isNull || col("shard") < 0 || col("shard") >= 4).count() == 0)
    assert(parsed.groupBy("doc_id").agg(countDistinct("shard").as("n"))
      .filter(col("n") > 1).count() == 0)
    assert(parsed.select("lsn", "doc_id").exceptAll(events.select("lsn", "doc_id")).isEmpty)
  }

  test("malformed lines surface as dirty rows, not stream failures") {
    import spark.implicits._
    val lines = Seq(
      "this is not json",
      // unknown op code (key present, so the op rule is what fires)
      """{"payload": {"after": {"doc_id": "d0", "tokens": [1], "n_tok": 1, "source": "cc"},
         "op": "x", "source": {"lsn": 7, "shard": 0}}}""".replace("\n", " "),
      """{"payload": {"after": {"doc_id": "d1", "tokens": [1], "n_tok": 1, "source": "cc"},
         "op": "c", "source": {"lsn": 9, "shard": 0}}}""".replace("\n", " ")
    ).toDF("value")
    val parsed = CdcEnvelope.parse(lines)
    val reasons = parsed.select(graft.apply.DirtyRouter.invalidReason().as("r"))
      .collect().map(_.getString(0))
    assert(reasons.count(_ == null) == 1) // only the valid insert survives
    assert(reasons.contains("null_or_empty_doc_id")) // non-JSON line
    assert(reasons.contains("unknown_op")) // op "x"
  }

  test("envelope replay fails loudly on a malformed line unless dirty handling is configured") {
    import spark.implicits._
    val d = tmpDir("graft-dbz-dirty")
    val good = CdcEnvelope.toEnvelope(ChangeLogGen.events(spark, cfg, 0, 100))
      .collect().map(_.getString(0))
    val fs = FileSystem.get(new java.net.URI(d), spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(s"$d/log"))
    val lines = good :+ "{ not json at all"
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/log/seg-00000.txt"),
      lines.mkString("\n").getBytes("UTF-8"))

    // default: errorLimit.record=0 is implied for envelope logs — the
    // malformed line fails the job instead of polluting the table
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Replay.replay(spark, s"$d/log", s"$d/t1", s"$d/cp1",
        nBuckets = 4, logFormat = "debezium")
    }
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[graft.apply.DirtyRouter.ErrorLimitExceeded]))

    // opt-in quarantine: the bad line lands in quarantine, good rows apply
    val table = Replay.replay(spark, s"$d/log", s"$d/t2", s"$d/cp2",
      nBuckets = 4, logFormat = "debezium", quarantineDir = Some(s"$d/q"))
    assert(table.read().count() > 0)
    val q = spark.read.parquet(s"$d/q")
    assert(q.count() == 1 && q.select("_reason").head().getString(0) == "null_or_empty_doc_id")
  }

  test("CDC interop chain: a table's feed exported as envelopes rebuilds the table") {
    // table A (feed enabled) -> readChanges -> toEnvelope (the standard
    // CDC EXPORT) -> a second engine instance tails the envelope text
    // with reader.format=debezium -> state B must equal state A. This is
    // the cross-system composability contract: any Debezium-speaking
    // consumer can rebuild the table from the exported feed.
    val d = tmpDir("graft-interop")
    ChangeLogGen.write(spark, cfg, s"$d/log")
    val a = Replay.replay(spark, s"$d/log", s"$d/ta", s"$d/cpa",
      nBuckets = 8, maxFilesPerTrigger = 2, changelog = true)
    val fs = FileSystem.get(new java.net.URI(d), spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(s"$d/elog"))
    val tmp = new Path(s"$d/elog/.tmp")
    CdcEnvelope.toEnvelope(a.readChanges().select(
        col("shard"), col("lsn"), col("op"), col("doc_id"),
        col("tokens"), col("n_tok"), col("source"), col("lang")))
      .coalesce(1).write.mode("overwrite").text(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath).filter(_.getName.startsWith("part-")).head
    fs.rename(part, new Path(s"$d/elog/feed.txt"))
    fs.delete(tmp, true)
    val b = Replay.replay(spark, s"$d/elog", s"$d/tb", s"$d/cpb",
      nBuckets = 4, logFormat = "debezium")
    val ra = a.read()
    val rb = b.read()
    assert(rb.exceptAll(ra).isEmpty && ra.exceptAll(rb).isEmpty)
    assert(ra.count() > 0)
  }

  test("exportEnvelopes carries FULL pre-images; key-only deletes refused without coverage") {
    import graft.apply.BatchApply
    import spark.implicits._
    val dir = tmpDir("graft-env-pre")
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 4)
    def batch(rows: Seq[(String, Long, String, Seq[Int], java.lang.Long, String)]) =
      rows.map { case (d, l, op, tk, nt, src) => (d, l, op, tk, nt, src,
        null.asInstanceOf[String], 0) }
        .toDF("doc_id", "lsn", "op", "tokens", "n_tok", "source", "lang", "shard")
    BatchApply.apply(table, batch(Seq(
      ("a", 1L, "I", Seq(1, 2), 2L, "s0"), ("b", 2L, "I", Seq(3), 1L, "s0"))),
      batchId = 0, changelog = true, preimages = true)
    BatchApply.apply(table, batch(Seq(
      ("a", 10L, "U", Seq(9, 9, 9), 3L, "s1"),    // update: before = old a
      ("b", 11L, "D", null, null, null),          // delete: before = old b
      ("c", 12L, "I", Seq(7), 1L, "s0"),          // insert: before null
      ("a2", 5L, "I", Seq(5), 1L, "s0"))),        // second key, plain insert
      batchId = 1, changelog = true, preimages = true)
    val parsed = CdcEnvelope.exportEnvelopes(table, sinceBatchId = 0)
      .select(from_json(col("value"), CdcEnvelope.envelopeSchema).as("e"))
      .select(col("e.payload.op").as("op"),
        col("e.payload.before.doc_id").as("b_id"),
        col("e.payload.before.n_tok").as("b_ntok"),
        col("e.payload.before.tokens").as("b_tokens"),
        col("e.payload.after.doc_id").as("a_id"),
        col("e.payload.after.n_tok").as("a_ntok"))
      .collect().map(r => (r.getString(0), Option(r.getString(1)),
        Option(r.get(2)).map(_.toString.toLong),
        Option(r.getString(4)))).toSet
    assert(parsed == Set(
      ("u", Some("a"), Some(2L), Some("a")),  // full before (old n_tok=2), after new
      ("d", Some("b"), Some(1L), None),       // DELETE with a FULL before row
      ("c", None, None, Some("c")),
      ("c", None, None, Some("a2"))), s"got $parsed")
    // a range without pre-image coverage is refused loudly, never
    // silently exported with keyless deletes
    BatchApply.apply(table, batch(Seq(("d", 20L, "I", Seq(1), 1L, "s0"))),
      batchId = 2, changelog = true) // no preimages
    val e = intercept[IllegalArgumentException](
      CdcEnvelope.exportEnvelopes(table, sinceBatchId = 0))
    assert(e.getMessage.contains("preimages"))
  }

  test("exportEnvelopes: a change that lost the lsn merge carries no image") {
    import graft.apply.BatchApply
    import spark.implicits._
    val dir = tmpDir("graft-env-stale")
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 4)
    def batch(rows: (String, Long, String, Seq[Int], Long)*) =
      rows.map { case (d, l, op, tk, nt) => (d, l, op, tk, nt, "s0",
        null.asInstanceOf[String], 0) }
        .toDF("doc_id", "lsn", "op", "tokens", "n_tok", "source", "lang", "shard")
    BatchApply.apply(table, batch(("a", 10L, "I", Seq(1, 2, 3), 3L)),
      batchId = 0, changelog = true, preimages = true)
    BatchApply.apply(table, batch(
        ("a", 5L, "U", Seq(9, 9, 9, 9), 4L),   // stale: lsn 5 < 10, loses
        ("b", 6L, "I", Seq(4), 1L)),           // fresh insert, wins
      batchId = 1, changelog = true, preimages = true)
    assert(table.read().filter(col("doc_id") === "a")
      .select(concat_ws(",", col("tokens"))).head().getString(0) == "1,2,3")
    val got = CdcEnvelope.exportEnvelopes(table, sinceBatchId = 0)
      .select(from_json(col("value"), CdcEnvelope.envelopeSchema).as("e"))
      .select(col("e.payload.op"), col("e.payload.source.lsn"),
        col("e.payload.before").isNull,
        when(col("e.payload.after").isNotNull,
          concat_ws(",", col("e.payload.after.tokens"))))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2),
        Option(r.getString(3)))).toSet
    // (op, lsn, before absent, after tokens): never "9,9,9,9"
    assert(got == Set(("u", 5L, true, None), ("c", 6L, true, Some("4"))), s"got $got")
  }

  test("replaying an envelope log equals replaying the parquet log") {
    val d = tmpDir("graft-dbz-replay")
    // parquet form
    ChangeLogGen.write(spark, cfg, s"$d/plog")
    Replay.replay(spark, s"$d/plog", s"$d/ptable", s"$d/pcp",
      nBuckets = 8, maxFilesPerTrigger = 2)
    // envelope form: same events rendered as JSON-lines segments,
    // written oldest-first so the file source admits them in log order
    val fs = FileSystem.get(new java.net.URI(d), spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(s"$d/jlog"))
    val segSize = cfg.nEvents / cfg.nSegments
    (0 until cfg.nSegments).foreach { i =>
      val tmp = new Path(s"$d/jlog/.tmp-$i")
      CdcEnvelope.toEnvelope(
          ChangeLogGen.events(spark, cfg, i * segSize, (i + 1) * segSize))
        .coalesce(1).write.mode("overwrite").text(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath).filter(_.getName.startsWith("part-")).head
      fs.rename(part, new Path(f"$d/jlog/seg-$i%05d.txt"))
      fs.delete(tmp, true)
    }
    Replay.replay(spark, s"$d/jlog", s"$d/jtable", s"$d/jcp",
      nBuckets = 8, maxFilesPerTrigger = 2, logFormat = "debezium")
    val p = graft.lake.LakeTable.load(spark, s"$d/ptable").read()
    val j = graft.lake.LakeTable.load(spark, s"$d/jtable").read()
    assert(j.exceptAll(p).isEmpty && p.exceptAll(j).isEmpty)
    assert(p.count() > 0)
  }
}
