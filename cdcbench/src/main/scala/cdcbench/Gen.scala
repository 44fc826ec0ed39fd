package cdcbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.model.ChangeLog
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Row, SparkSession}

/** One generated change event. `tokens` and `source` are null for a delete. */
final case class Ev(shard: Int, lsn: Long, op: String, docId: String,
    tokens: Array[Int], source: String) {
  def row: Row = Row(shard, lsn, op, docId, tokens,
    if (tokens == null) null else java.lang.Long.valueOf(tokens.length.toLong), source, null)
}

/** A document's user-visible state: what the table must hold for its key. */
final case class Doc(tokens: Vector[Int], source: String) {
  def nTok: Long = tokens.length.toLong
}

/**
 * The benchmark's own seeded event generator, kept apart from the
 * engine's generator so that no change to the engine can change the
 * inputs. Every draw comes from a `SplittableRandom` seeded by
 * (seed, stream), so the same seed always gives the same events.
 *
 * Doc `i` is `d%09d`, its shard is `i % Shards`, and lsns are handed out
 * in increasing order, so every key's and every shard's lsns increase
 * through the log, as a CDC source guarantees.
 */
final class Gen(seed: Long) {
  import Gen._

  private var lsn = 0L
  /** Docs created so far: updates and deletes pick among these. */
  var created = 0L

  def rng(stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  def tokens(r: SplittableRandom): Array[Int] =
    Array.fill(MinTokens + r.nextInt(MaxTokens - MinTokens + 1))(r.nextInt(Vocab))

  def source(r: SplittableRandom): String = Sources(r.nextInt(Sources.length))

  def ev(op: String, doc: Long, toks: Array[Int], src: String): Ev = {
    lsn += 1
    Ev((doc % Shards).toInt, lsn, op, docId(doc), toks, src)
  }

  def insert(r: SplittableRandom): Ev = {
    created += 1
    ev("I", created - 1, tokens(r), source(r))
  }

  def update(r: SplittableRandom): Ev = {
    val d = r.nextLong(created)
    ev("U", d, tokens(r), source(r))
  }

  def delete(r: SplittableRandom): Ev = ev("D", r.nextLong(created), null, null)

  /** `n` events with the given insert/update shares in percent (deletes
    * take the rest), drawn from stream `stream`. */
  def mixed(stream: Long, n: Int, pctInsert: Int, pctUpdate: Int): Vector[Ev] = {
    val r = rng(stream)
    Vector.fill(n) {
      val p = r.nextInt(100)
      if (p < pctInsert || created == 0) insert(r)
      else if (p < pctInsert + pctUpdate) update(r)
      else delete(r)
    }
  }
}

object Gen {
  val Shards = 8
  val MinTokens = 8
  val MaxTokens = 40
  val Vocab = 50000
  val Sources: Array[String] = Array("cc", "wiki", "code", "books")

  def docId(i: Long): String = f"d$i%09d"

  /** Last-writer-wins by lsn over `events`, applied to `state` in place:
    * the independent model of what the table must hold. */
  def applyLww(state: mutable.HashMap[String, (Long, Doc)], events: Iterable[Ev]): Unit =
    events.foreach { e =>
      val newer = state.get(e.docId).forall(_._1 < e.lsn)
      if (newer) {
        if (e.op == "D") state.update(e.docId, (e.lsn, null))
        else state.update(e.docId, (e.lsn, Doc(e.tokens.toVector, e.source)))
      }
    }

  /** Live docs of a model (tombstoned keys dropped). */
  def live(state: mutable.HashMap[String, (Long, Doc)]): Map[String, Doc] =
    state.iterator.collect { case (k, (_, d)) if d != null => k -> d }.toMap

  /**
   * Write `events` as one parquet segment file `name` under `logDir`, in
   * the engine's change-log schema, and stamp its modification time with
   * `mtimeMs`: the file source replays segments in modification-time
   * order, so explicit stamps fix the batch order.
   */
  def writeSegment(spark: SparkSession, logDir: String, name: String,
      events: Seq[Ev], mtimeMs: Long): Unit = {
    val fs = FileSystem.get(new java.net.URI(logDir), spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(logDir, s".tmp-$name")
    val rows = java.util.Arrays.asList(events.map(_.row): _*)
    spark.createDataFrame(rows, ChangeLog.schema).coalesce(1).write.parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath).filter(_.getName.startsWith("part-")).head
    val dst = new Path(logDir, s"$name.parquet")
    require(fs.rename(part, dst), s"cannot move $part to $dst")
    fs.delete(tmp, true)
    fs.setTimes(dst, mtimeMs, -1)
  }
}
