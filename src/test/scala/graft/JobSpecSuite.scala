package graft

import graft.apply.DirtyRouter
import graft.functions.Transformers
import graft.gen.ChangeLogGen
import graft.model.{ChangeLog, GenConfig, JobSpec}
import graft.stream.{Replay, ReplayMetrics}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Tests for the job-spec surface: dx_* transformer semantics (DataX
  * parity cases from FIXTURES.md §3), dirty routing + errorLimit, and a
  * full job.json -> Main-equivalent end-to-end run with metrics. */
class JobSpecSuite extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .master("local[8]")
    .appName("graft-jobspec-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("dx_substr/dx_pad/dx_replace null + edge semantics match the reference") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val df = Seq(Option("DataX"), None, Option("ab")).toDF("s")
    val out = df.select(
      Transformers.dxSubstr(col("s"), 1, 3).as("sub"),
      Transformers.dxPad(col("s"), "l", 7, "*").as("padl"),
      Transformers.dxPad(col("s"), "r", 3, "*").as("padr_trunc"),
      Transformers.dxReplace(col("s"), 1, 2, "__").as("repl")
    ).collect()
    // "DataX": substr(1,3)="ata"; lpad to 7 = "**DataX"; rpad to 3 truncates = "Dat"; replace [1,3) = "D__aX"
    assert(out(0).getString(0) == "ata")
    assert(out(0).getString(1) == "**DataX")
    assert(out(0).getString(2) == "Dat")
    assert(out(0).getString(3) == "D__aX")
    // null: substr/replace pass null through; pad pads from ""
    assert(out(1).isNullAt(0) && out(1).isNullAt(3))
    assert(out(1).getString(1) == "*******")
    // start beyond length -> null (DataX: dirty)
    assert(spark.sql("SELECT 1").select(
      Transformers.dxSubstr(lit("ab"), 5, 2)).head.isNullAt(0))
  }

  test("dx_filter: like is a FULL regex match; null never matches order ops") {
    import spark.implicits._
    val df = Seq(Option("abc"), Option("abcdef"), None).toDF("s")
    // like 'abc' must match ONLY the exact-regex row (Java matches())
    assert(Transformers.dxFilter(df, col("s"), "like", "abc").as[Option[String]].collect().toSet ==
      Set(Option("abcdef"), None))
    // > drops only non-null values greater than the literal
    assert(Transformers.dxFilter(df, col("s"), ">", "abc").as[Option[String]].collect().toSet ==
      Set(Option("abc"), None))
    // = "null" matches null (FilterTransformer.java:205-212)
    assert(Transformers.dxFilter(df, col("s"), "=", "null").as[Option[String]].collect().toSet ==
      Set(Option("abc"), Option("abcdef")))
  }

  test("dirty router: malformed events quarantined with reasons; clean events pass") {
    import spark.implicits._
    val rows = Seq(
      graft.model.ChangeEvent(0, 1L, "I", "doc1", Array(1, 2), 2L, "cc", null),
      graft.model.ChangeEvent(0, 2L, "X", "doc2", Array(1), 1L, "cc", null), // bad op
      graft.model.ChangeEvent(0, 3L, "I", "", Array(1), 1L, "cc", null),     // empty key
      graft.model.ChangeEvent(0, 4L, "U", "doc3", Array(1, 2, 3), 99L, "cc", null), // n_tok mismatch
      graft.model.ChangeEvent(0, 5L, "D", "doc1", null, null, null, null)    // delete: null payload OK
    ).toDF()
    val q = tmpDir("graft-quarantine")
    val split = DirtyRouter.route(rows, batchId = 7, Some(q))
    assert(split.cleanRows == 2 && split.dirtyRows == 3)
    val quarantined = spark.read.parquet(q)
    assert(quarantined.count() == 3)
    assert(quarantined.select("_reason").distinct().collect().map(_.getString(0)).toSet ==
      Set("unknown_op", "null_or_empty_doc_id", "token_payload_mismatch"))
    // errorLimit.record = 0 -> fail DURING the run (per batch)
    intercept[DirtyRouter.ErrorLimitExceeded] {
      DirtyRouter.route(rows, 8, None, DirtyRouter.ErrorLimit(record = 0))
    }
    // percentage is a JOB-END check (reference JobContainer.java:962-966):
    // route() never throws on it, checkFinal() does
    val sp = DirtyRouter.route(rows, 9, None, DirtyRouter.ErrorLimit(percentage = 0.5))
    assert(sp.cleanRows == 2 && sp.dirtyRows == 3)
    sp.release()
    intercept[DirtyRouter.ErrorLimitExceeded] {
      DirtyRouter.checkFinal(2, 3, DirtyRouter.ErrorLimit(percentage = 0.5)) // 0.6 > 0.5
    }
    DirtyRouter.checkFinal(7, 3, DirtyRouter.ErrorLimit(percentage = 0.5)) // 0.3 <= 0.5: ok
  }

  test("writer.file: truncate/append/nonConflict round-trip (TxtFileWriter modes)") {
    import spark.implicits._
    val dir = tmpDir("graft-filewriter")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    def spec(mode: String) = JobSpec.parse(
      s"""{"reader": {"logDir": "$dir/src"},
         | "writer": {"file": {"path": "$dir/out", "writeMode": "$mode",
         |                     "fieldDelimiter": ";", "header": true}}}""".stripMargin)
    // truncate = Overwrite
    spec("truncate").fileWriter.get.save(df)
    def readBack() = spark.read.option("header", "true").option("sep", ";")
      .schema("id LONG, v STRING").csv(s"$dir/out")
    assert(readBack().count() == 2)
    spec("truncate").fileWriter.get.save(df) // overwrites, not doubles
    assert(readBack().count() == 2)
    // append doubles
    spec("append").fileWriter.get.save(df)
    assert(readBack().count() == 4)
    // nonConflict fails on existing output
    intercept[Exception] { spec("nonConflict").fileWriter.get.save(df) }
    assert(readBack().count() == 4, "nonConflict must not touch existing output")
    // nonConflict succeeds on a fresh path
    JobSpec.parse(
      s"""{"reader": {"logDir": "$dir/src"},
         | "writer": {"file": {"path": "$dir/fresh", "writeMode": "nonConflict"}}}""".stripMargin)
      .fileWriter.get.save(df)
    assert(spark.read.option("header", "true").csv(s"$dir/fresh").count() == 2)
    // unknown mode rejected at use
    intercept[IllegalArgumentException] { spec("bogus").fileWriter.get.saveMode }
  }

  test("custom multi-record transformer: reflective load through the spec (ComplexTransformer)") {
    import spark.implicits._
    val df = Seq((1L, "  Hello World  "), (2L, "One two THREE four")).toDF("doc_id", "text")
    val spec = graft.model.TransformerSpec("custom", "",
      Map("class" -> "graft.functions.NormalizeTextTransformer"))
    val out = spec(df).orderBy("doc_id").collect()
    assert(out(0).getAs[String]("norm_text") == "hello world")
    assert(out(0).getAs[Int]("n_words") == 2)
    assert(out(1).getAs[String]("norm_text") == "one two three four")
    assert(out(1).getAs[Int]("n_words") == 4)
    // parses from job JSON (no "column" needed for custom)
    val parsed = JobSpec.parse(
      """{"reader": {"logDir": "/l"}, "writer": {"tableDir": "/t", "checkpointDir": "/c"},
        | "transformers": [{"name": "custom",
        |   "class": "graft.functions.NormalizeTextTransformer"}]}""".stripMargin)
    assert(parsed.transformers.head.params("class").endsWith("NormalizeTextTransformer"))
    // unknown class and non-conforming class fail loudly
    intercept[IllegalArgumentException] {
      graft.model.TransformerSpec("custom", "", Map("class" -> "no.such.Clazz"))(df)
    }
    intercept[IllegalArgumentException] {
      graft.model.TransformerSpec("custom", "", Map("class" -> "java.lang.Object"))(df)
    }
  }

  test("reader.table block: a chained job consumes another table's change feed") {
    val dir = tmpDir("graft-readertable")
    ChangeLogGen.write(spark, GenConfig(nEvents = 1500, nDocs = 300, nShards = 2,
      nSegments = 2, evolveAtLsn = Long.MaxValue), s"$dir/log")
    val a = Replay.replay(spark, s"$dir/log", s"$dir/ta", s"$dir/cpa",
      nBuckets = 4, changelog = true)
    val spec = JobSpec.parse(
      s"""{"reader": {"table": "$dir/ta"},
         | "writer": {"tableDir": "$dir/tb", "checkpointDir": "$dir/cpb",
         |            "nBuckets": 4}}""".stripMargin)
    assert(spec.logDir == s"$dir/ta") // Replay tails the table root's feed
    val b = Replay.replay(spark, spec.logDir, spec.tableDir, spec.checkpointDir,
      nBuckets = spec.nBuckets)
    val (x, y) = (a.read(), b.read())
    assert(x.count() > 0 && x.count() == y.count())
    assert(x.exceptAll(y).count() == 0 && y.exceptAll(x).count() == 0)
  }

  test("conflicting reader sources fail loudly (table/logDir/jdbc pairwise)") {
    val jdbc = """"jdbc": {"jdbcUrl": "jdbc:mysql://db/x", "table": "t"}"""
    val w = """"writer": {"tableDir": "/t", "checkpointDir": "/c"}"""
    // table + logDir (pre-existing check)
    intercept[IllegalArgumentException] { JobSpec.parse(
      s"""{"reader": {"table": "/ta", "logDir": "/l"}, $w}""") }
    // table + jdbc: Main's jdbc branch would otherwise win silently
    intercept[IllegalArgumentException] { JobSpec.parse(
      s"""{"reader": {"table": "/ta", $jdbc}, $w}""") }
    // logDir + jdbc: same silent-precedence shape
    intercept[IllegalArgumentException] { JobSpec.parse(
      s"""{"reader": {"logDir": "/l", $jdbc}, $w}""") }
    // each source alone still parses
    assert(JobSpec.parse(s"""{"reader": {"table": "/ta"}, $w}""").logDir == "/ta")
    assert(JobSpec.parse(s"""{"reader": {"logDir": "/l"}, $w}""").logDir == "/l")
    assert(JobSpec.parse(s"""{"reader": {$jdbc}, $w}""").jdbcReader.isDefined)
  }

  test("writer.changelog flag parses (change-data feed opt-in, default off)") {
    val on = JobSpec.parse(
      """{"reader": {"logDir": "/l"},
        | "writer": {"tableDir": "/t", "checkpointDir": "/c", "changelog": true}}""".stripMargin)
    assert(on.changelog)
    val off = JobSpec.parse(
      """{"reader": {"logDir": "/l"},
        | "writer": {"tableDir": "/t", "checkpointDir": "/c"}}""".stripMargin)
    assert(!off.changelog)
  }

  test("ivm block: parses with defaults; refuses loudly without the feed it consumes") {
    val s = JobSpec.parse(
      """{"reader": {"logDir": "/l"},
        | "writer": {"tableDir": "/t", "checkpointDir": "/c", "changelog": true},
        | "ivm": {"aggDir": "/agg"}}""".stripMargin)
    assert(s.ivm.contains(graft.model.IvmSpec("/agg", "source", "n_tok")))
    val wide = JobSpec.parse(
      """{"reader": {"logDir": "/l"},
        | "writer": {"tableDir": "/t", "checkpointDir": "/c", "changelog": true},
        | "ivm": {"aggDir": "/agg", "grp": "lang",
        |         "sum": "aggregate(tokens, 0L, (a, x) -> a + x)"}}""".stripMargin)
    assert(wide.ivm.exists(i => i.grp == "lang" && i.sum.startsWith("aggregate")))
    // an ivm block without writer.changelog is a broken job — fail at parse
    val e = intercept[IllegalArgumentException](JobSpec.parse(
      """{"reader": {"logDir": "/l"},
        | "writer": {"tableDir": "/t", "checkpointDir": "/c"},
        | "ivm": {"aggDir": "/agg"}}""".stripMargin))
    assert(e.getMessage.contains("writer.changelog"))
  }

  test("sensitive config masking: *password*/*accessKey*/*secret* never print") {
    val json =
      """{"reader": {"jdbc": {"jdbcUrl": "jdbc:mysql://db/x", "username": "u",
        |  "password": "s3cr3t!", "table": "t"}},
        | "writer": {"jdbc": {"jdbcUrl": "jdbc:mysql://db/y", "table": "o",
        |  "password": "pw2", "ossAccessKeySecret": "AKIA999"}},
        | "nested": [{"apiToken": "tok-abc", "plain": "visible"}]}""".stripMargin
    val masked = JobSpec.maskSensitive(json)
    Seq("s3cr3t!", "pw2", "AKIA999", "tok-abc").foreach(s =>
      assert(!masked.contains(s), s"unmasked secret '$s' in:\n$masked"))
    assert(masked.contains("visible") && masked.contains("jdbc:mysql://db/x"))
    // parsing keeps the real values (masking is output-only)
    assert(JobSpec.parse(json).jdbcReader.get.password.contains("s3cr3t!"))
  }

  test("dryRun preCheck: validates spec/source/table/transformers and writes nothing") {
    val dir = tmpDir("graft-dryrun")
    ChangeLogGen.write(spark, GenConfig(nEvents = 500, nDocs = 100, nShards = 2,
      nSegments = 1), s"$dir/log")
    val spec = JobSpec.parse(
      s"""{"dryRun": true,
         | "reader": {"logDir": "$dir/log"},
         | "writer": {"tableDir": "$dir/table", "checkpointDir": "$dir/cp"},
         | "transformers": [{"name": "dx_expr", "column": "source",
         |                   "expr": "lower(trim(source))"}]}""".stripMargin)
    assert(spec.dryRun)
    val checks = Main.preCheck(spark, spec)
    assert(checks.size >= 3)
    // NOTHING was written: no table, no checkpoint
    assert(!new java.io.File(s"$dir/table").exists())
    assert(!new java.io.File(s"$dir/cp").exists())
    // failure cases: missing source; unresolvable transformer expression
    intercept[IllegalArgumentException] {
      Main.preCheck(spark, spec.copy(logDir = s"$dir/absent"))
    }
    intercept[Exception] {
      Main.preCheck(spark, spec.copy(transformers = Seq(
        graft.model.TransformerSpec("dx_expr", "x", Map("expr" -> "no_such_col + 1")))))
    }
    assert(!new java.io.File(s"$dir/table").exists())
  }

  test("errorLimit.percentage is enforced at job end, not per batch") {
    import spark.implicits._
    // 4 one-file batches; ALL dirt is concentrated in the first batch
    // (3/5 dirty locally = 0.6) but the job-wide ratio is 3/20 = 0.15
    val dir = tmpDir("graft-joblimit")
    def ev(lsn: Long, op: String, doc: String) =
      graft.model.ChangeEvent(0, lsn, op, doc, Array(1, 2), 2L, "cc", null)
    val dirtyBatch = Seq(ev(1, "I", "a"), ev(2, "X", "b"), ev(3, "X", "c"),
      ev(4, "X", "d"), ev(5, "I", "e"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    (0 until 4).foreach { i =>
      val rows = if (i == 0) dirtyBatch
      else (1L to 5L).map(j => ev(i * 10 + j, "I", s"doc$i$j"))
      rows.toDF().coalesce(1).write.parquet(s"$dir/stage$i")
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/stage$i"))
        .map(_.getPath).filter(_.getName.startsWith("part-")).head
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/log"))
      fs.rename(part, new org.apache.hadoop.fs.Path(f"$dir/log/seg-$i%05d.parquet"))
    }
    // overall 15% dirty <= 20% limit: the early 60%-dirty batch must NOT fail the job
    Replay.replay(spark, s"$dir/log", s"$dir/t1", s"$dir/cp1", nBuckets = 4,
      maxFilesPerTrigger = 1, quarantineDir = Some(s"$dir/q1"),
      errorLimit = DirtyRouter.ErrorLimit(percentage = 0.2))
    // overall 15% dirty > 10% limit: the job fails AT THE END (all
    // batches applied — the failure is the final check, not batch 0)
    val e = intercept[DirtyRouter.ErrorLimitExceeded] {
      Replay.replay(spark, s"$dir/log", s"$dir/t2", s"$dir/cp2", nBuckets = 4,
        maxFilesPerTrigger = 1, quarantineDir = Some(s"$dir/q2"),
        errorLimit = DirtyRouter.ErrorLimit(percentage = 0.1))
    }
    assert(e.getMessage.contains("job dirty fraction"))
    // every clean batch landed before the end check fired
    assert(graft.lake.LakeTable.load(spark, s"$dir/t2").current.batchId == 3)
  }

  test("dedup block: LSH-index admission drops near-dup docs during replay") {
    import spark.implicits._
    val dir = tmpDir("graft-dedup-admit")
    val T = (1 to 12).toArray // doc A's tokens (and its exact dups')
    def ev(lsn: Long, op: String, doc: String, tokens: Array[Int], src: String) =
      graft.model.ChangeEvent(0, lsn, op, doc, tokens, tokens.length.toLong, src, null)
    val batches = Seq(
      Seq(ev(1, "I", "A", T, "s0"), ev(2, "I", "B", (21 to 32).toArray, "s0")),
      // update to A (identical tokens, new source): a doc re-matching
      // ITSELF in the index must be admitted; C duplicates A -> dropped
      Seq(ev(3, "U", "A", T, "s1"), ev(4, "I", "C", T, "s0")),
      // C was dropped (never indexed); E still matches A -> dropped
      Seq(ev(5, "I", "E", T, "s0"), ev(6, "I", "D", (41 to 52).toArray, "s0")))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF().coalesce(1).write.parquet(s"$dir/stage$i")
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/stage$i"))
        .map(_.getPath).filter(_.getName.startsWith("part-")).head
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/log"))
      fs.rename(part, new org.apache.hadoop.fs.Path(f"$dir/log/seg-$i%05d.parquet"))
    }
    val spec = JobSpec.parse(
      s"""{"reader": {"logDir": "$dir/log"},
         | "writer": {"tableDir": "$dir/table", "checkpointDir": "$dir/cp", "nBuckets": 4},
         | "speed": {"maxFilesPerTrigger": 1},
         | "dedup": {"indexDir": "$dir/idx", "threshold": 0.8, "n": 3, "k": 16, "bands": 4}
         |}""".stripMargin)
    assert(spec.dedup.contains(graft.model.DedupSpec(s"$dir/idx", 0.8, 3, 16, 4, 1000)))
    val metrics = new ReplayMetrics
    val table = Replay.replay(spark, spec.logDir, spec.tableDir, spec.checkpointDir,
      nBuckets = spec.nBuckets, maxFilesPerTrigger = spec.maxFilesPerTrigger,
      dedup = spec.dedup, metrics = Some(metrics))
    val state = table.read().select("doc_id", "source").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // A survived its self-matching update (and took the new source);
    // exact dups C and E were dropped; distinct docs B and D admitted
    assert(state == Map("A" -> "s1", "B" -> "s0", "D" -> "s0"))
    assert(metrics.dedupDroppedDocs.get == 2)
    // audit trail: per-batch dropped pairs under the index
    val dropped1 = spark.read.parquet(s"$dir/idx/dropped/batch_id=1")
      .select("doc_id", "dup_of").distinct().collect().map(r => (r.getString(0), r.getString(1)))
    assert(dropped1.toSet == Set(("C", "A")))
    val dropped2 = spark.read.parquet(s"$dir/idx/dropped/batch_id=2")
      .select("doc_id").distinct().collect().map(_.getString(0))
    assert(dropped2.toSet == Set("E"))
    // index holds only admitted docs, one gram set each (A's update is
    // insert-gated — never re-probed, never re-appended); D landed in
    // the LSM tail, so read through the base+tail observable
    val indexed = graft.operators.LshIndex.indexedDocs(spark, s"$dir/idx")
      .collect().map(_.getString(0)).toSet
    assert(indexed == Set("A", "B", "D"))
  }

  test("dedup.compactEvery: index file count stays bounded without a manual compact") {
    import spark.implicits._
    def ev(lsn: Long, op: String, doc: String, tokens: Array[Int], src: String) =
      graft.model.ChangeEvent(0, lsn, op, doc, tokens, tokens.length.toLong, src, null)
    def stageLog(dir: String): Unit = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
      (0 until 6).foreach { i =>
        val rows = (0 until 3).map(j =>
          ev(i * 10 + j + 1, "I", f"doc-$i-$j",
            Array.tabulate(12)(t => i * 1000 + j * 40 + t), "s0"))
        rows.toDF().coalesce(1).write.parquet(s"$dir/stage$i")
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/stage$i"))
          .map(_.getPath).filter(_.getName.startsWith("part-")).head
        fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/log"))
        fs.rename(part, new org.apache.hadoop.fs.Path(f"$dir/log/seg-$i%05d.parquet"))
      }
    }
    def tailFiles(idx: String): Long = {
      val p = new org.apache.hadoop.fs.Path(s"$idx/tail")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) 0L
      else fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet")).toLong
    }
    def run(dir: String, compactEvery: Int): (Long, Set[String]) = {
      stageLog(dir)
      Replay.replay(spark, s"$dir/log", s"$dir/table", s"$dir/cp",
        nBuckets = 4, maxFilesPerTrigger = 1,
        dedup = Some(graft.model.DedupSpec(s"$dir/idx", threshold = 0.8,
          n = 3, k = 16, bands = 4, compactEvery = compactEvery)))
      (tailFiles(s"$dir/idx"),
        graft.operators.LshIndex.indexedDocs(spark, s"$dir/idx")
          .collect().map(_.getString(0)).toSet)
    }
    // the unbounded quantity is the LSM tail: one file set per batch
    // forever without compaction; compactEvery folds it into the
    // (partition-count-bounded) base as the replay runs
    val (manualTail, manualDocs) = run(tmpDir("graft-autocompact-off"), compactEvery = 0)
    val (autoTail, autoDocs) = run(tmpDir("graft-autocompact-on"), compactEvery = 2)
    assert(autoTail < manualTail,
      s"compactEvery must bound the accreted tail: auto=$autoTail vs unmanaged=$manualTail")
    assert(autoDocs == manualDocs, "compaction must not change the indexed doc set")
    // the spec surface parses the knob
    val spec = JobSpec.parse(
      """{"reader": {"logDir": "x"}, "writer": {"tableDir": "y", "checkpointDir": "z"},
        | "dedup": {"indexDir": "i", "compactEvery": 4}}""".stripMargin)
    assert(spec.dedup.get.compactEvery == 4)
  }

  test("dx_expr: arbitrary SQL expression transformer (dx_groovy analog)") {
    import spark.implicits._
    val df = Seq(("ab", 1), ("cde", 2)).toDF("s", "x")
    val spec = graft.model.TransformerSpec("dx_expr", "y", Map("expr" -> "x * 10 + length(s)"))
    assert(spec(df).select("y").collect().map(_.getInt(0)).toSet == Set(12, 23))
    // overwrite an existing column, referencing other columns
    val spec2 = graft.model.TransformerSpec("dx_expr", "s", Map("expr" -> "upper(s) || x"))
    assert(spec2(df).select("s").collect().map(_.getString(0)).toSet == Set("AB1", "CDE2"))
    // parses from job JSON like any other transformer
    val parsed = JobSpec.parse(
      """{"reader":{"logDir":"/l"},"writer":{"tableDir":"/t","checkpointDir":"/c"},
        |"transformers":[{"name":"dx_expr","column":"y","expr":"x + 1"}]}""".stripMargin)
    assert(parsed.transformers.head.params("expr") == "x + 1")
  }

  test("transformer preValidate catches bad specs without a schema (jdbc dry-run path)") {
    import graft.model.TransformerSpec
    // valid specs pass without touching any DataFrame
    TransformerSpec("dx_substr", "x", Map("start" -> "0", "length" -> "3")).preValidate()
    TransformerSpec("dx_expr", "y", Map("expr" -> "x + 1")).preValidate()
    TransformerSpec("dx_filter", "x", Map("op" -> "like", "value" -> "a%")).preValidate()
    // unknown name, missing required param, unparsable numeric all throw
    intercept[IllegalArgumentException](
      TransformerSpec("dx_bogus", "x", Map.empty).preValidate())
    intercept[NoSuchElementException](
      TransformerSpec("dx_substr", "x", Map("length" -> "3")).preValidate())
    intercept[NumberFormatException](
      TransformerSpec("dx_replace", "x",
        Map("start" -> "zero", "length" -> "1", "replace" -> "r")).preValidate())
    intercept[IllegalArgumentException](
      TransformerSpec("custom", "", Map("class" -> "no.such.Clazz")).preValidate())
  }

  test("cell-change rendering keeps rows whose delete predicate is NULL (as upserts)") {
    import spark.implicits._
    val df = Seq((1L, 10L, Some("click"), Some("a")), (2L, 20L, None, Some("b")))
      .toDF("user_id", "event_id", "event_type", "props")
    val out = graft.operators.CellChanges.render(df,
      pk = col("user_id"), version = col("event_id"),
      deletePred = col("event_type") === "error",
      cells = Seq("event_type" -> col("event_type"), "props" -> col("props"))).collect()
    // row 2's predicate is NULL (event_type null): it must still render
    // its non-null cells as U rows, and emit no DR
    val row2 = out.filter(_.getLong(0) == 2L)
    assert(row2.nonEmpty && row2.forall(_.getString(3) == "U"))
    assert(row2.map(_.getString(1)).toSet == Set("props"))
  }

  test("speed caps: maxBytesPerTrigger bounds batches; eventsPerSecond paces the replay") {
    val dir = tmpDir("graft-speed")
    val cfg = GenConfig(nEvents = 2000, nDocs = 500, nShards = 2, nSegments = 4, avgTokens = 8)
    ChangeLogGen.write(spark, cfg, s"$dir/log")
    val spec = JobSpec.parse(
      s"""{"reader":{"logDir":"$dir/log"},
         |"writer":{"tableDir":"$dir/table","checkpointDir":"$dir/cp","nBuckets":4},
         |"speed":{"maxBytesPerTrigger":1,"eventsPerSecond":10000}}""".stripMargin)
    assert(spec.maxBytesPerTrigger == 1L && spec.eventsPerSecond == 10000L)
    val metrics = new ReplayMetrics
    val t0 = System.nanoTime()
    val table = Replay.replay(spark, spec.logDir, spec.tableDir, spec.checkpointDir,
      nBuckets = spec.nBuckets, maxBytesPerTrigger = spec.maxBytesPerTrigger,
      eventsPerSecond = spec.eventsPerSecond, metrics = Some(metrics))
    val elapsed = (System.nanoTime() - t0) / 1e9
    // 1-byte budget admits one file per batch -> as many batches as segments
    assert(metrics.batches.get >= 4, s"expected >=4 byte-capped batches, got ${metrics.batches.get}")
    // 2000 events at <=10k ev/s must take >= 0.2s of paced wall time
    assert(elapsed >= 0.2, f"pacing not applied: $elapsed%.3f s for 2000 events @10k/s")
    assert(table.read().count() > 0)
  }

  test("quarantine writes are idempotent under batch retry (batch-scoped overwrite)") {
    import spark.implicits._
    val rows = Seq(
      graft.model.ChangeEvent(0, 1L, "I", "doc1", Array(1, 2), 2L, "cc", null),
      graft.model.ChangeEvent(0, 2L, "X", "doc2", Array(1), 1L, "cc", null) // bad op
    ).toDF()
    val q = tmpDir("graft-quarantine-retry")
    DirtyRouter.route(rows, batchId = 3, Some(q)).release()
    DirtyRouter.route(rows, batchId = 3, Some(q)).release() // simulated foreachBatch retry
    val quarantined = spark.read.parquet(q)
    assert(quarantined.count() == 1) // overwrite, not append: no duplicate
    assert(quarantined.select("batch_id").head.getInt(0) == 3) // partition column from path
    // a DIFFERENT batch appends alongside
    DirtyRouter.route(rows, batchId = 4, Some(q)).release()
    assert(spark.read.parquet(q).count() == 2)
  }

  test("maintenance block: parse + rebucket/compact/vacuum sequence preserves state") {
    val spec = JobSpec.parse(
      """{"reader": {"logDir": "/l"},
        | "writer": {"tableDir": "/t", "checkpointDir": "/c"},
        | "maintenance": {"rebucket": 32, "compact": true, "vacuum": true}}""".stripMargin)
    assert(spec.rebucketTo == 32 && spec.compactAfter && spec.vacuumAfter)
    // run the sequence Main would run on a real table
    val dir = tmpDir("graft-maint")
    val cfg = GenConfig(nEvents = 3000, nDocs = 600, nShards = 2, nSegments = 2, avgTokens = 8)
    ChangeLogGen.write(spark, cfg, s"$dir/log")
    val table = Replay.replay(spark, s"$dir/log", s"$dir/table", s"$dir/cp", nBuckets = 8)
    val before = table.read().orderBy("doc_id").collect()
    table.rebucket(spec.rebucketTo)
    table.compact()
    table.vacuum()
    assert(table.current.nBuckets == 32)
    assert(table.read().orderBy("doc_id").collect().sameElements(before))
    // "auto" parses to the sentinel and the suggestion follows live rows
    val auto = JobSpec.parse(
      """{"reader": {"logDir": "/l"},
        | "writer": {"tableDir": "/t", "checkpointDir": "/c"},
        | "maintenance": {"rebucket": "auto"}}""".stripMargin)
    assert(auto.rebucketTo == JobSpec.RebucketAuto)
    val liveRows = table.current.files.filterNot(_.delta).map(_.rows).sum
    val target = graft.lake.LakeTable.suggestBuckets(liveRows)
    table.rebucket(target) // Main's auto path: rebucket to the suggestion
    assert(table.current.nBuckets == target)
    assert(table.read().orderBy("doc_id").collect().sameElements(before))
  }

  test("jdbc reader/writer blocks parse to the Spark jdbc option surface") {
    val spec = JobSpec.parse(
      """{"reader": {"jdbc": {
        |    "jdbcUrl": "jdbc:mysql://db:3306/corpus", "table": "docs",
        |    "username": "u", "password": "p", "driver": "com.mysql.cj.jdbc.Driver",
        |    "column": ["doc_id", "tokens", "n_tok"], "where": "n_tok > 0",
        |    "splitPk": "doc_pk", "lowerBound": 0, "upperBound": 1000000,
        |    "numPartitions": 8, "fetchSize": 4096}},
        | "writer": {"jdbc": {
        |    "jdbcUrl": "jdbc:mysql://db:3306/sink", "table": "docs_out",
        |    "writeMode": "replace", "batchSize": 512}}}""".stripMargin)
    val r = spec.jdbcReader.get
    assert(r.options == Map(
      "url" -> "jdbc:mysql://db:3306/corpus", "dbtable" -> "docs",
      "user" -> "u", "password" -> "p", "driver" -> "com.mysql.cj.jdbc.Driver",
      "partitionColumn" -> "doc_pk", "lowerBound" -> "0", "upperBound" -> "1000000",
      "numPartitions" -> "8", "fetchsize" -> "4096"))
    val w = spec.jdbcWriter.get
    assert(w.options == Map(
      "url" -> "jdbc:mysql://db:3306/sink", "dbtable" -> "docs_out",
      "batchsize" -> "512", "truncate" -> "true"))
    assert(w.saveMode == org.apache.spark.sql.SaveMode.Overwrite)
    // querySql mode: no dbtable, no split options, splitPk rejected
    val q = JobSpec.parse(
      """{"reader": {"jdbc": {"jdbcUrl": "jdbc:pg://x", "querySql": "SELECT 1"}},
        | "writer": {"tableDir": "/t", "checkpointDir": "/c"}}""".stripMargin)
    assert(q.jdbcReader.get.options.get("query").contains("SELECT 1"))
    assert(!q.jdbcReader.get.options.contains("dbtable"))
    intercept[IllegalArgumentException] {
      graft.sources.Jdbc.JdbcReaderSpec("u", Some("t"), Some("q"), None, None, None,
        Nil, None, None, None, None, 4, 1024)
    }
    // keyed upsert is the MERGE path, not a jdbc writeMode
    intercept[IllegalArgumentException] {
      graft.sources.Jdbc.JdbcWriterSpec("u", "t", None, None, None, "update", 512)
    }
  }

  test("jdbc split predicates: even ranges + null slice cover the domain disjointly") {
    import graft.sources.Jdbc
    val preds = Jdbc.splitPredicates("pk", 0, 99, 4)
    assert(preds.size == 5 && preds.last == "pk IS NULL")
    assert(preds.head == "pk >= 0 AND pk < 25")
    assert(preds(3) == "pk >= 75 AND pk <= 99")
    // quantile-split path: explicit bounds (e.g. from Split.exactNtile)
    val qp = Jdbc.boundsPredicates("pk", Seq(0L, 10L, 100L, 1000L), includeNullSlice = false)
    assert(qp == Seq("pk >= 0 AND pk < 10", "pk >= 10 AND pk < 100", "pk >= 100 AND pk <= 1000"))
  }

  test("job spec end-to-end: parse JSON, transformer chain, replay with metrics") {
    val dir = tmpDir("graft-job")
    val cfg = GenConfig(nEvents = 8000, nDocs = 1500, nShards = 4, nSegments = 4,
      avgTokens = 8)
    ChangeLogGen.write(spark, cfg, s"$dir/log")
    val json =
      s"""{
         |  "reader": { "logDir": "$dir/log" },
         |  "writer": { "tableDir": "$dir/table", "checkpointDir": "$dir/cp",
         |              "nBuckets": 8 },
         |  "transformers": [
         |    {"name": "dx_filter", "column": "source", "op": "=", "value": "books"}
         |  ],
         |  "speed": { "maxFilesPerTrigger": 4 },
         |  "errorLimit": { "record": 0, "quarantineDir": "$dir/dirty" }
         |}""".stripMargin
    val spec = JobSpec.parse(json)
    assert(spec.nBuckets == 8 && spec.maxFilesPerTrigger == 4 && spec.errorRecordLimit == 0)

    val metrics = new ReplayMetrics
    val table = Replay.replay(
      spark, spec.logDir, spec.tableDir, spec.checkpointDir,
      nBuckets = spec.nBuckets, maxFilesPerTrigger = spec.maxFilesPerTrigger,
      transform = spec.transformFn,
      quarantineDir = spec.quarantineDir,
      errorLimit = DirtyRouter.ErrorLimit(spec.errorRecordLimit, spec.errorPercentageLimit),
      metrics = Some(metrics))

    // the dx_filter dropped every books-sourced event BEFORE the merge
    assert(table.read().filter(col("source") === "books").count() == 0)
    assert(table.read().count() > 0)
    // null-source rows (deletes) are KEPT by dx_filter ('=' never
    // matches null unless value is the literal "null") — mirror that
    val log = spark.read.schema(ChangeLog.schema).parquet(s"$dir/log")
      .filter(!coalesce(col("source") === "books", lit(false)))
    // metrics counted the exact post-transform rows and all batches;
    // generator produces no dirty rows, so errorLimit.record=0 not hit
    assert(metrics.readRecords.get == log.count())
    assert(metrics.batches.get > 0 && metrics.dirtyRecords.get == 0)
    val mism = graft.verify.Oracle.diff(
      graft.verify.Oracle.expectedState(spark, log), table.read())
    assert(mism.isEmpty, mism.mkString("; "))
    // final report file written
    metrics.report(spark, spec.tableDir, "test")
    assert(new java.io.File(s"${spec.tableDir}/metrics/replay-test.json").exists())
  }
}
