package cdcbench

import scala.collection.mutable

import graft.lake.LakeTable
import org.apache.spark.sql.SparkSession

/** A timed step of a round: a micro-batch or one consumer call. */
final case class Step(name: String, startMs: Long, endMs: Long) {
  def ms: Double = (endMs - startMs).toDouble
}

/** What one round of fixed work measured: `steps` are the round's
  * micro-batches (with their streaming `progress`) or consumer calls;
  * `counts` are workload-specific counters. */
final case class RoundStat(wallS: Double, cpuS: Double, events: Long, ops: Long,
    bytesWritten: Long, steps: Seq[Step],
    progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = Nil,
    counts: Map[String, Double] = Map.empty)

/** One correctness check and what it compared. */
final case class Check(name: String, ok: Boolean, detail: String)

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val workDir: String, val seed: Long,
    val nBuckets: Int, val progress: Progress, val trace: Option[JobTrace],
    val spans: Spans) {
  def drain(): Unit = org.apache.spark.BusDrain(spark.sparkContext)

  /** Mark the benchmark operation that submits the next jobs. */
  def op[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(JobTrace.OpProperty, name)
    try body finally sc.setLocalProperty(JobTrace.OpProperty, null)
  }
}

/**
 * A workload: set-up work, then rounds of one fixed shape, then checks
 * made against a model the benchmark computes itself.
 */
trait Workload {
  /** Generate inputs and preload state. Counted in `setup_s`. */
  def setup(): Unit
  /** Wall seconds one timed round took on the host the benchmark was
    * made on (4 cores, see the README). `--seconds` becomes a fixed
    * number of rounds through it, so how much work a run measures does
    * not depend on how fast the engine is. */
  def nominalRoundS: Double
  /** The most timed rounds a run makes. */
  def maxRounds: Int = Int.MaxValue
  /** One round, untimed, before the timed section. */
  def warmup(): Unit = round()
  /** One round of fixed work. */
  def round(): RoundStat
  /** Compare the engine's outputs with the benchmark's own model. */
  def checks(): Seq[Check]
  /** Store directories the trace reports on, by layer name. */
  def stores: Map[String, String]
  /** The table the trace diffs snapshots of. */
  def table: Option[LakeTable]
}

object Workload {
  type Model = mutable.HashMap[String, (Long, Doc)]

  /** Time `body` on the wall clock and in JVM CPU. */
  def timed[T](body: => T): (T, Double, Double) = {
    val w0 = System.nanoTime()
    val c0 = Probe.cpuS
    val r = body
    (r, (System.nanoTime() - w0) / 1e9, Probe.cpuS - c0)
  }

  private def key(doc: String, d: Doc): String =
    s"$doc|${d.tokens.mkString(",")}|${d.nTok}|${d.source}"

  /** The table's user-visible rows as (doc_id, Doc). */
  def tableRows(df: org.apache.spark.sql.DataFrame): Seq[(String, Doc)] =
    df.select("doc_id", "tokens", "n_tok", "source").collect().toSeq.map { r =>
      val toks = r.getSeq[Int](1).toVector
      val nTok = r.get(2).asInstanceOf[Number].longValue
      require(nTok == toks.length, s"${r.getString(0)}: n_tok $nTok but ${toks.length} tokens")
      r.getString(0) -> Doc(toks, r.getString(3))
    }

  /** Row count and full set difference on (doc_id, tokens, n_tok, source). */
  def sameState(name: String, table: Seq[(String, Doc)], model: Map[String, Doc]): Check = {
    val got = table.map { case (k, d) => key(k, d) }.toSet
    val want = model.map { case (k, d) => key(k, d) }.toSet
    val extra = (got -- want).size
    val missing = (want -- got).size
    Check(name, table.size == model.size && extra == 0 && missing == 0,
      s"rows ${table.size} vs model ${model.size}, extra $extra, missing $missing")
  }

  /** Lineage of every committed batch against the events the log
    * carried for it, and the watermarks against the highest lsns. */
  def lineage(t: LakeTable, want: Map[Long, Seq[Ev]]): Seq[Check] = {
    val got = mutable.HashMap.empty[(Long, Int), LakeTable.LineageEntry]
    t.listVersions.sorted.map(t.snapshotAt).foreach { s =>
      s.lineage.filter(_.batchId == s.batchId).foreach(l => got((l.batchId, l.shard)) = l)
    }
    val expect = want.toSeq.flatMap { case (b, evs) =>
      evs.groupBy(_.shard).map { case (sh, es) =>
        (b, sh) -> LakeTable.LineageEntry(b, sh, es.map(_.lsn).min, es.map(_.lsn).max, es.size.toLong)
      }
    }.toMap
    val diff = (got.toSet -- expect.toSet).size + (expect.toSet -- got.toSet).size
    val wm = want.values.flatten.groupBy(_.shard).map { case (sh, es) => sh -> es.map(_.lsn).max }
    val cur = t.current.watermarks
    Seq(
      Check("lineage", diff == 0,
        s"${got.size} (batch, shard) entries vs ${expect.size} expected, $diff differ"),
      Check("watermarks", cur == wm, s"${cur.size} shards, equal to max lsn: ${cur == wm}"))
  }

  /** The pre-image feed since `before` (version, batch id) telescopes:
    * the state at `before`, minus the feed's rows with sign -1, plus
    * those with sign +1, equals `after`, by row count and by an
    * order-insensitive hash sum. */
  def telescopes(t: LakeTable, before: (Long, Long), after: Seq[(String, Doc)]): Check = {
    val (v0, b0) = before
    val pre = tableRows(t.read(Some(t.snapshotAt(v0))))
    val delta = t.readDeltaChanges(b0).select("doc_id", "sign", "tokens", "source").collect()
      .toSeq.map(r => r.getInt(1) -> (r.getString(0) -> Doc(r.getSeq[Int](2).toVector, r.getString(3))))
    val minus = delta.filter(_._1 < 0).map(_._2)
    val plus = delta.filter(_._1 > 0).map(_._2)
    val sum = hashSum(pre) - hashSum(minus) + hashSum(plus)
    val rows = pre.size - minus.size + plus.size
    Check("preimage_telescopes", sum == hashSum(after) && rows == after.size,
      s"before ${pre.size} - ${minus.size} + ${plus.size} = $rows rows vs after ${after.size}; " +
        s"hash sums equal: ${sum == hashSum(after)}")
  }

  /** Order-insensitive 64-bit hash sum over rows. */
  def hashSum(rows: Iterable[(String, Doc)]): Long =
    rows.iterator.map { case (k, d) => mix(key(k, d)) }.sum

  def mix(s: String): Long = {
    var h = 0xcbf29ce484222325L
    s.foreach { c => h = (h ^ c) * 0x100000001b3L }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    h
  }
}
