package graft

import graft.apply.BatchApply
import graft.gen.ChangeLogGen
import graft.model.{ChangeEvent, GenConfig}
import graft.stream.Replay
import graft.verify.Oracle
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Merge-on-read delta path: sparse-change batches append overlay files
  * instead of copy-on-writing whole buckets; readers resolve, COW and
  * compaction fold chains, and everything still matches the oracle. */
class MergeOnReadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .master("local[8]")
    .appName("graft-mor")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def sparseUpdates(rnd: Random, lsnFrom: Long, n: Int, docSpace: Long): Seq[ChangeEvent] =
    (0 until n).map { i =>
      val doc = f"doc${rnd.nextLong(docSpace)}%012d"
      val toks = Array.fill(4)(rnd.nextInt(1000))
      ChangeEvent(math.abs(doc.hashCode) % 4, lsnFrom + i, "U", doc,
        toks, java.lang.Long.valueOf(4L), "wiki", null)
    }

  private def toDF(evts: Seq[ChangeEvent]): DataFrame = {
    import spark.implicits._
    evts.toDF()
  }

  test("sparse batch lands as delta files; dense batch COWs; both match oracle") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = tmpDir("graft-mor1")
    // base: 20k docs inserted (dense -> COW)
    val baseCfg = GenConfig(nEvents = 20000, nDocs = 5000, nShards = 4,
      pctInsert = 100, pctUpdate = 0, avgTokens = 8)
    val base = ChangeLogGen.events(spark, baseCfg).cache()
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 16)
    BatchApply.apply(table, base, batchId = 0)
    assert(table.current.files.forall(!_.delta))

    // sparse update batch: 60 changed keys over ~5000 base rows (~1.2%)
    val upd = sparseUpdates(new Random(5), lsnFrom = 100000, n = 60, docSpace = baseCfg.nDocs)
    BatchApply.apply(table, toDF(upd), batchId = 1)
    val snap = table.current
    assert(snap.files.exists(_.delta), "sparse batch should produce delta files")

    // read path resolves: final state equals the sequential oracle
    val all = base.unionByName(toDF(upd))
    val mism = Oracle.diff(Oracle.expectedState(spark, all), table.read())
    assert(mism.isEmpty, mism.mkString("; "))

    // a sparse batch that adds `lang` (and widens `n_tok`) lands as
    // delta files of the evolved schema over base files of the first:
    // the read aligns both schemas before it resolves
    val evo = sparseUpdates(new Random(6), lsnFrom = 200000, n = 60, docSpace = baseCfg.nDocs)
      .map(_.copy(lang = "en"))
    BatchApply.apply(table, toDF(evo), batchId = 2)
    val evolved = table.current
    assert(evolved.schemaId != snap.schemaId &&
      evolved.files.exists(f => f.delta && f.schemaId == evolved.schemaId) &&
      evolved.files.exists(_.schemaId == snap.schemaId))
    val evoMism = Oracle.diff(Oracle.expectedState(spark, all.unionByName(toDF(evo))), table.read())
    assert(evoMism.isEmpty, evoMism.mkString("; "))
    base.unpersist()
  }

  test("delta chain is bounded: after maxDeltaChain sparse batches a COW folds it") {
    val dir = tmpDir("graft-mor2")
    val baseCfg = GenConfig(nEvents = 20000, nDocs = 5000, nShards = 4,
      pctInsert = 100, pctUpdate = 0, avgTokens = 8)
    val base = ChangeLogGen.events(spark, baseCfg).cache()
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 4) // few buckets -> chains build fast
    BatchApply.apply(table, base, batchId = 0)
    var lsn = 200000L
    val rnd = new Random(9)
    var events = Seq.empty[ChangeEvent]
    (1 to 7).foreach { b =>
      val upd = sparseUpdates(rnd, lsn, n = 40, docSpace = baseCfg.nDocs)
      events ++= upd
      lsn += 1000
      BatchApply.apply(table, toDF(upd), batchId = b)
    }
    val chains = table.current.files.filter(_.delta).groupBy(_.bucket).map(_._2.size)
    assert(chains.nonEmpty && chains.max <= BatchApply.DefaultMaxDeltaChain,
      s"chain lengths: $chains")
    val all = base.unionByName(toDF(events))
    val mism = Oracle.diff(Oracle.expectedState(spark, all), table.read())
    assert(mism.isEmpty, mism.mkString("; "))
    base.unpersist()
  }

  test("compaction folds deltas into base files without changing visible state") {
    val dir = tmpDir("graft-mor3")
    val baseCfg = GenConfig(nEvents = 10000, nDocs = 3000, nShards = 4,
      pctInsert = 100, pctUpdate = 0, avgTokens = 8)
    val base = ChangeLogGen.events(spark, baseCfg).cache()
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 8)
    BatchApply.apply(table, base, batchId = 0)
    val upd = sparseUpdates(new Random(3), 50000, n = 30, docSpace = baseCfg.nDocs)
    BatchApply.apply(table, toDF(upd), batchId = 1)
    assert(table.current.files.exists(_.delta))
    val before = table.read().orderBy("doc_id").collect()
    table.compact()
    assert(table.current.files.forall(!_.delta))
    assert(table.read().orderBy("doc_id").collect().sameElements(before))
  }

  test("reads past 32 live files take the snapshot's files: no job before the action, rows exact") {
    val dir = tmpDir("graft-mor-files")
    val baseCfg = GenConfig(nEvents = 4000, nDocs = 2000, nShards = 4,
      pctInsert = 100, pctUpdate = 0, avgTokens = 8)
    val base = ChangeLogGen.events(spark, baseCfg).cache()
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 40)
    BatchApply.apply(table, base, batchId = 0, changelog = true, preimages = true)
    val upd = sparseUpdates(new Random(11), 100000, n = 40, docSpace = baseCfg.nDocs)
    BatchApply.apply(table, toDF(upd), batchId = 1, changelog = true, preimages = true)
    val snap = table.current
    assert(snap.files.size > 32 && snap.files.exists(_.delta), s"${snap.files.size} live files")

    // build every read frame with a listener on: Spark lists more than
    // 32 paths in a parallel job, a snapshot read lists nothing
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.map(_.details).mkString("\n"))
    }
    val keys = upd.map(_.doc_id).distinct.take(10)
    spark.sparkContext.addSparkListener(listener)
    val (physical, resolved, looked, changes, images) = try {
      val frames = (table.readPhysical(), table.read(), table.readKeys(keys),
        table.readChanges(-1L), table.readDeltaChanges(-1L))
      Thread.sleep(1000) // the listener bus is asynchronous
      frames
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.isEmpty, jobs.toArray.mkString("\n----\n"))

    val expected = Oracle.expectedState(spark, base.unionByName(toDF(upd)))
    val mism = Oracle.diff(expected, resolved)
    assert(mism.isEmpty, mism.mkString("; "))
    val lookMism = Oracle.diff(expected.filter(col("doc_id").isin(keys: _*)), looked)
    assert(lookMism.isEmpty, lookMism.mkString("; "))
    assert(physical.count() == snap.files.map(_.rows).sum)
    val canonical = base.select("doc_id").distinct().count() + upd.map(_.doc_id).distinct.size
    assert(changes.count() == canonical)
    assert(images.filter(col("sign") === 1).count() == canonical)
    base.unpersist()
  }

  test("buckets with and without deltas resolve together, at any column subset") {
    val dir = tmpDir("graft-mor-mixed")
    val baseCfg = GenConfig(nEvents = 6000, nDocs = 3000, nShards = 4,
      pctInsert = 100, pctUpdate = 0, avgTokens = 8)
    val base = ChangeLogGen.events(spark, baseCfg).cache()
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 16)
    BatchApply.apply(table, base, batchId = 0)
    val upd = sparseUpdates(new Random(21), 100000, n = 3, docSpace = baseCfg.nDocs)
    BatchApply.apply(table, toDF(upd), batchId = 1)
    val deltaBuckets = table.current.files.filter(_.delta).map(_.bucket).toSet
    assert(deltaBuckets.nonEmpty && deltaBuckets.size < 16, s"delta buckets: $deltaBuckets")

    val expected = Oracle.expectedState(spark, base.unionByName(toDF(upd)))
    val mism = Oracle.diff(expected, table.read())
    assert(mism.isEmpty, mism.mkString("; "))
    // a read of a few columns prunes the rest, in resolved buckets too
    def totals(df: DataFrame) = df.agg(count(lit(1)), sum(col("n_tok"))).head()
    assert(totals(table.read().select("n_tok")) == totals(expected))
    assert(table.read().select("doc_id").distinct().count() == expected.count())
    val since = table.readUpdatedSince(100000L)
    assert(since.select("doc_id").collect().map(_.getString(0)).toSet == upd.map(_.doc_id).toSet)
    base.unpersist()
  }

  test("a batch past the hash-join bound merges through the sort-merge join, exactly") {
    // one shuffle partition, so one partition holds the whole batch
    val s1 = spark.newSession()
    s1.conf.set("spark.sql.shuffle.partitions", "1")
    val dir = tmpDir("graft-mor-big")
    val table = Replay.createTable(s1, s"$dir/t", nBuckets = 1)
    def batch(n: Long, lsnFrom: Long, op: String): DataFrame = s1.range(n).selectExpr(
      "cast(id % 4 as int) as shard", s"id + $lsnFrom as lsn", s"'$op' as op",
      "format_string('doc%08d', id) as doc_id", "array(cast(id % 1000 as int)) as tokens",
      "1L as n_tok", "'wiki' as source", "cast(null as string) as lang")
    val big = BatchApply.HashJoinMaxRows + 1000L
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => plans.add(x.physicalPlanDescription)
        case _ =>
      }
    }
    def joinsOf(apply: => Unit): Seq[String] = {
      plans.clear()
      s1.sparkContext.addSparkListener(listener)
      try { apply; Thread.sleep(1000) } // the listener bus is asynchronous
      finally s1.sparkContext.removeSparkListener(listener)
      Seq("SortMergeJoin", "ShuffledHashJoin").filter(j => plans.toArray.exists(_.toString.contains(j)))
    }
    BatchApply.apply(table, batch(big, 0L, "I"), batchId = 0)
    assert(joinsOf(BatchApply.apply(table, batch(big, 1000000L, "U"), batchId = 1)) == Seq("SortMergeJoin"))
    assert(joinsOf(BatchApply.apply(table, batch(10000L, 2000000L, "D"), batchId = 2)) ==
      Seq("ShuffledHashJoin"))
    val all = batch(big, 0L, "I").unionByName(batch(big, 1000000L, "U"))
      .unionByName(batch(10000L, 2000000L, "D"))
    val mism = Oracle.diff(Oracle.expectedState(s1, all), table.read())
    assert(mism.isEmpty, mism.take(5).mkString("; "))
  }
}
