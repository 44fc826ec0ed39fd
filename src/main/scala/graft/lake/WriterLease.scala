package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** A stale writer touched a fenced store — the caller must stop
  * mutating (a newer writer owns the store now). Carries enough to log
  * a useful hand-off message. */
final case class FencedWriterException(
    store: String, heldEpoch: Long, currentEpoch: Long)
  extends IllegalStateException(
    s"writer fenced on $store: holding epoch $heldEpoch but epoch " +
    s"$currentEpoch exists — a newer writer owns this store")

/** Epoch fence for single-writer stores (the [[graft.operators.LshIndex]] /
  * [[graft.operators.AnnIndex]] dirs and, by the same discipline, any
  * store that publishes via rename).
  *
  * The index stores assume one writer: probe caches, tail appends and
  * the compact store swap are all correct only when mutations are
  * serialized. This object closes the multi-writer hole the way Kafka
  * fences zombie producers (monotone producer epochs) and HDFS fences
  * a failed-over NameNode's stale JournalNode writes: each writer
  * ACQUIRES a fresh epoch before mutating, and every mutation boundary
  * re-checks that no higher epoch has appeared. Acquiring fences all
  * earlier epochs — a zombie writer (paused JVM, partitioned driver)
  * discovers it lost ownership at its NEXT mutation and aborts with
  * [[FencedWriterException]] instead of corrupting the store.
  *
  * Layout: `<store>/_writers/epoch=<%019d>` marker files, one per
  * acquisition, each published with [[Commit.publish]], so racing
  * acquirers never share an epoch. The live epoch is the max marker.
  * Marker files are tiny and acquisition is rare (one per writer
  * takeover), so the dir never needs compaction; [[release]] removes
  * the caller's own marker for tidy shutdown but correctness never
  * depends on it.
  *
  * Guarantee (and its limit): a writer that checks the fence at every
  * mutation boundary can lose ownership only BETWEEN boundaries, so the
  * last unfenced mutation it completed was made while it still held the
  * max epoch. Two mutations racing INSIDE one boundary window (check
  * passes for both, both publish) are not excluded by the fence; the
  * fence turns "two replays silently interleave appends" into "the
  * older replay fails loudly at its next batch".
  *
  * Stores that never acquired a lease stay unfenced (legacy
  * single-writer mode, zero overhead); once ANY writer acquires,
  * lease-less mutation of that store is refused — opting in is a
  * one-way door per store, which is what makes the fence meaningful.
  *
  * Reference analog: DataX serializes writers per job inside one
  * process (`TaskGroupContainer` owns its writer tasks exclusively);
  * the distributed analog needs the explicit epoch.
  */
final case class WriterLease(store: String, epoch: Long, writerId: String) {

  /** Throw [[FencedWriterException]] if a newer epoch exists. Call at
    * every mutation boundary (entry + immediately before publish). */
  def check(spark: SparkSession): Unit = {
    val cur = WriterLease.currentEpoch(spark, store)
    if (cur.exists(_ > epoch))
      throw FencedWriterException(store, epoch, cur.get)
  }

  /** Tidy shutdown: drop this lease's own marker (correctness never
    * depends on it — a newer acquisition fences regardless). Removing
    * the max marker would UN-fence older writers, so release is a
    * no-op unless a newer epoch already exists or this is the only
    * epoch ever taken; in the common hand-off case (newer writer
    * already acquired) it just tidies the dir. */
  def release(spark: SparkSession): Unit = {
    val fs = WriterLease.fsOf(spark, store)
    val mine = new Path(WriterLease.leaseDir(store), f"epoch=$epoch%019d")
    val cur = WriterLease.currentEpoch(spark, store)
    if (cur.exists(_ > epoch)) { fs.delete(mine, false); () }
  }
}

object WriterLease {

  private[lake] def leaseDir(store: String): Path = new Path(store, "_writers")

  private[lake] def fsOf(spark: SparkSession, store: String): FileSystem =
    new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val Marker = """epoch=(\d+)""".r

  /** The store's live (max) epoch, None if the store is unfenced. */
  def currentEpoch(spark: SparkSession, store: String): Option[Long] =
    Commit.versions(fsOf(spark, store), leaseDir(store), Marker).lastOption

  /** Take ownership of `store`: publish the marker of epoch = current + 1,
    * retrying past collisions with concurrent acquirers (each retry
    * re-reads the max, so the winner set is totally ordered). All epochs
    * below the returned lease are fenced the moment this returns. */
  def acquire(spark: SparkSession, store: String,
      writerId: String = "writer"): WriterLease = {
    val fs = fsOf(spark, store)
    var attempts = 0
    while (attempts < 64) {
      val next = currentEpoch(spark, store).getOrElse(0L) + 1L
      if (Commit.publish(fs, new Path(leaseDir(store), f"epoch=$next%019d"),
          writerId.getBytes("UTF-8")))
        return WriterLease(store, next, writerId)
      attempts += 1 // lost the race, re-read max
    }
    throw new IllegalStateException(
      s"WriterLease.acquire: could not claim an epoch on $store after 64 attempts")
  }

  /** Mutation guard for store code: unfenced store + no lease → legacy
    * single-writer mode, allowed; fenced store → a CURRENT lease on
    * this store is required. A lease for a different store is a caller
    * bug and fails loudly. */
  def guard(spark: SparkSession, store: String,
      lease: Option[WriterLease]): Unit = {
    lease.foreach { l =>
      require(l.store == store,
        s"WriterLease for ${l.store} used to mutate $store")
    }
    val cur = currentEpoch(spark, store)
    (cur, lease) match {
      case (None, _)          => () // unfenced store: any writer may mutate
      case (Some(c), None)    => throw FencedWriterException(store, -1L, c)
      case (Some(c), Some(l)) => if (c > l.epoch) throw FencedWriterException(store, l.epoch, c)
    }
  }
}
