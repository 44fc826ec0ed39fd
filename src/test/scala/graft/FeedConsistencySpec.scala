package graft

import graft.apply.BatchApply
import graft.lake.{Ivm, LakeTable}
import graft.model.ChangeEvent
import graft.sources.CdcEnvelope
import graft.stream.Replay
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** A table whose next delta feed read first lets another thread commit
  * `commit` to completion: the interleaving of a batch that lands
  * after a consumer pinned `current` and before it read the feed. */
class MidCommitTable(spark: SparkSession, root: String) extends LakeTable(spark, root) {
  @volatile var commit: Option[() => Unit] = None

  override def readDeltaChanges(sinceBatchId: Long, untilBatchId: Long): DataFrame = {
    commit.foreach { c =>
      commit = None
      val t = new Thread(() => c())
      t.start()
      t.join()
    }
    super.readDeltaChanges(sinceBatchId, untilBatchId)
  }
}

/** The feeds read what the snapshot they are fenced at committed: one
  * schema from the table's own, and a batch committed mid-read is left
  * to the next read. */
class FeedConsistencySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .master("local[8]")
    .appName("graft-feed-consistency")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def ev(lsn: Long, op: String, doc: String, nTok: Int, src: String, lang: String = null) =
    ChangeEvent((math.abs(doc.hashCode) % 4).toInt, lsn, op, doc,
      if (op == "D") null else Array.tabulate(nTok)(identity),
      if (op == "D") null else java.lang.Long.valueOf(nTok.toLong),
      if (op == "D") null else src, if (op == "D") null else lang)

  private def toDF(evts: Seq[ChangeEvent]): DataFrame = {
    import spark.implicits._
    evts.toDF()
  }

  private def apply(t: LakeTable, b: Int, evts: Seq[ChangeEvent]): Unit =
    BatchApply.apply(t, toDF(evts), batchId = b, changelog = true, preimages = true)

  /** (source, cnt, sum of `sumCol`) of the table at `snap` */
  private def direct(t: LakeTable, snap: LakeTable.Snapshot, sumCol: String = "n_tok") =
    t.read(Some(snap)).groupBy("source").agg(count(lit(1)), sum(expr(sumCol).cast("long")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  private def served(df: DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  private def batch0 = (0 until 40).map(i => ev(i + 1, "I", f"d$i%03d", 1 + i % 5, s"s${i % 3}", "en"))
  private def batch1 = (0 until 8).map(i => ev(100 + i, "U", f"d$i%03d", 9, "s1")) ++
    (30 until 34).map(i => ev(200 + i, "D", f"d$i%03d", 0, null)) :+ ev(300, "I", "n000", 4, "s4")
  private def batch2 = (10 until 14).map(i => ev(400 + i, "U", f"d$i%03d", 2, "s0")) :+
    ev(500, "D", "d001", 0, null)

  test("a column evolved beyond lang rides the delta feed, the export images and a pure-feed sync") {
    val dir = tmpDir("graft-feed-evolve")
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 4)
    val agg = s"$dir/agg"
    val sumCol = "coalesce(score, n_tok)"
    apply(table, 0, batch0) // carries lang: the table evolves to lang + long n_tok
    table.evolveSchema(StructType(table.current.schema.fields :+ StructField("score", LongType)))
    // one schema for every read, empty or not, evolved column included
    val empty = table.readDeltaChanges(0L)
    assert(empty.count() == 0 && empty.schema == LakeTable.deltaFeedSchema(table.current.schema))
    assert(empty.columns.contains("score") && table.readChanges(0L).columns.contains("score"))
    assert(served(Ivm.sync(table, agg, sumCol = sumCol)) == direct(table, table.current, sumCol))
    apply(table, 1, batch1)
    val delta = table.readDeltaChanges(0L)
    assert(delta.count() > 0 && delta.schema == empty.schema)
    // a pre-evolution row's pre-image and the post-image both carry it
    val images = CdcEnvelope.exportEnvelopes(table, 0L).select(
      get_json_object(col("value"), "$.payload.before").as("b"),
      get_json_object(col("value"), "$.payload.after").as("a")).collect()
    assert(images.exists(_.getString(0) != null) && images.exists(_.getString(1) != null))
    images.flatMap(r => Seq(r.getString(0), r.getString(1))).filter(_ != null).foreach { img =>
      assert(img.contains("\"score\":") && img.contains("\"lang\":"), img)
    }
    assert(table.deltaFeedCovers(0L))
    assert(served(Ivm.sync(table, agg, sumCol = sumCol)) == direct(table, table.current, sumCol))
  }

  test("a batch committed mid-sync is left to the next sync; the view stays exact") {
    val dir = tmpDir("graft-feed-midsync")
    val table = new MidCommitTable(spark, Replay.createTable(spark, s"$dir/t", nBuckets = 4).root)
    val agg = s"$dir/agg"
    apply(table, 0, batch0)
    Ivm.sync(table, agg).collect()
    apply(table, 1, batch1)
    val pinned = table.current
    table.commit = Some(() => apply(LakeTable.load(spark, table.root), 2, batch2))
    val view = served(Ivm.sync(table, agg))
    assert(table.commit.isEmpty && table.current.batchId == 2, "the mid-sync commit did not run")
    assert(view == direct(table, pinned))
    assert(Ivm.syncedBatchId(spark, agg) == 1L)
    assert(served(Ivm.sync(table, agg)) == direct(table, table.current))
    assert(Ivm.syncedBatchId(spark, agg) == 2L)
  }

  test("a batch committed mid-export is left to the next export") {
    val dir = tmpDir("graft-feed-midexport")
    val table = new MidCommitTable(spark, Replay.createTable(spark, s"$dir/t", nBuckets = 4).root)
    apply(table, 0, batch0)
    apply(table, 1, batch1)
    def export(): Seq[String] = CdcEnvelope.exportEnvelopes(table, 0L).collect().map(_.getString(0)).toSeq.sorted
    val want = export()
    table.commit = Some(() => apply(LakeTable.load(spark, table.root), 2, batch2))
    val got = export()
    assert(table.commit.isEmpty && table.current.batchId == 2, "the mid-export commit did not run")
    assert(got == want)
    val next = export()
    assert(next.diff(want).size == batch2.map(_.doc_id).distinct.size && want.diff(next).isEmpty)
  }
}
