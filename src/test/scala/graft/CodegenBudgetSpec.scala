package graft

import graft.apply.BatchApply
import graft.lake.Ivm
import graft.model.ChangeEvent
import graft.sources.CdcEnvelope
import graft.stream.Replay
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The generated classes one feed-consumer cycle needs fit Spark's
  * codegen cache at its default size (100 entries, in 4 segments of
  * 25), so a steady cycle reuses what the previous one compiled. */
class CodegenBudgetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .master("local[8]")
    .appName("graft-codegen-budget")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def events(lsnFrom: Long, docs: Seq[Int], op: String): DataFrame = {
    import spark.implicits._
    docs.zipWithIndex.map { case (d, i) =>
      ChangeEvent(d % 4, lsnFrom + i, op, f"doc$d%06d", Array.fill(3 + d % 5)(d % 97),
        java.lang.Long.valueOf(3L + d % 5), Seq("wiki", "code", "books")(d % 3), null)
    }.toDF()
  }

  test("a merge-on-read consumer cycle with both feeds compiles at most 10 classes once steady") {
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val dir = java.nio.file.Files.createTempDirectory("graft-codegen").toString
    val table = Replay.createTable(spark, s"$dir/t", nBuckets = 8)
    val agg = s"$dir/agg"
    BatchApply.apply(table, events(0L, 0 until 2000, "I"), 0L, changelog = true, preimages = true)
    Ivm.sync(table, agg).collect()
    val keys = (0 until 2000 by 50).map(d => f"doc$d%06d")
    /** one consumer cycle: a 50-doc update batch (under 5% of every
      * bucket, so each lands as a delta file), then the four consumer
      * calls; returns the classes it compiled */
    def cycle(b: Int): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      BatchApply.apply(table, events(b * 100000L, (b until 2000 by 40), "U"), b.toLong,
        changelog = true, preimages = true)
      Ivm.sync(table, agg).collect()
      CdcEnvelope.exportEnvelopes(table, b - 1L).collect()
      table.readKeys(keys).collect()
      table.read().agg(count(lit(1)), sum(col("n_tok")), max(col("doc_id"))).collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    // cycle 1 reads buckets without deltas; cycle 2 is the first to
    // resolve deltas; cycle 3 has the shape every later cycle has
    val compiles = (1 to 3).map(cycle)
    info(s"classes compiled per cycle: ${compiles.mkString(", ")}")
    assert(table.current.files.count(_.delta) >= 2 * table.current.nBuckets)
    assert(compiles(2) <= 10, s"classes compiled per cycle: ${compiles.mkString(", ")}")
  }
}
