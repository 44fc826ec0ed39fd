package cdcbench

import scala.collection.mutable

import graft.lake.LakeTable
import graft.model.DedupSpec
import graft.stream.Replay
import Workload._

/**
 * `dedup_ingest`: a fresh table fed an insert-heavy log in large
 * micro-batches, with LSH near-dup admission on and feeds off. Each
 * round appends one segment to the log and resumes the query: inserts
 * of new docs, updates of docs from earlier batches, and exact copies
 * of docs inserted in earlier batches, which admission must drop. The
 * warm-up applies the first two batches (the first builds the index).
 */
final class DedupIngest(ctx: Ctx) extends Workload {
  val BatchEvents = 10000
  val nominalRoundS = 4.9
  val PctUpdate = 10
  val PctDup = 5
  val Threshold = 0.8

  private val gen = new Gen(ctx.seed)
  private val logDir = s"${ctx.workDir}/dedup-log"
  private val tableDir = s"${ctx.workDir}/dedup-table"
  private val ckpt = s"${ctx.workDir}/dedup-ckpt"
  private val indexDir = s"${ctx.workDir}/dedup-index"
  /** Events of every batch, by streaming batch id. */
  private val byBatch = mutable.LinkedHashMap.empty[Long, Vector[Ev]]
  /** Planted exact duplicates: dup doc id -> the doc it copies. */
  private val planted = mutable.LinkedHashMap.empty[String, String]
  private val firstTokens = mutable.HashMap.empty[String, Vector[Int]]
  /** Docs inserted (and not as copies) in earlier batches. */
  private val originals = mutable.ArrayBuffer.empty[Long]

  private def nextBatch(): Vector[Ev] = {
    val b = byBatch.size
    val r = gen.rng(b)
    val evs = Vector.fill(BatchEvents) {
      val p = r.nextInt(100)
      if (b > 0 && p < PctUpdate)
        gen.ev("U", originals(r.nextInt(originals.size)), gen.tokens(r), gen.source(r))
      else if (b > 0 && p < PctUpdate + PctDup) {
        val of = Gen.docId(originals(r.nextInt(originals.size)))
        val e = gen.insert(r).copy(tokens = firstTokens(of).toArray)
        planted(e.docId) = of
        firstTokens(e.docId) = firstTokens(of)
        e
      } else {
        val e = gen.insert(r)
        firstTokens(e.docId) = e.tokens.toVector
        e
      }
    }
    // originals become copyable from the next batch on
    evs.filter(e => e.op == "I" && !planted.contains(e.docId))
      .foreach(e => originals += e.docId.drop(1).toLong)
    byBatch(b.toLong) = evs
    evs
  }

  /** Segment mtimes: one second apart from the start of the run, so the
    * file source replays them in generation order. */
  private val t0 = System.currentTimeMillis() - 3600 * 1000L

  private def writeSegment(b: Int, events: Seq[Ev]): Unit =
    ctx.op("gen")(Gen.writeSegment(ctx.spark, logDir, f"seg-$b%06d", events, t0 + b * 1000L))

  /** One timed replay of the log's newest segment: a single micro-batch. */
  private def timedReplay(): RoundStat = {
    ctx.drain()
    ctx.progress.take()
    val b0 = Probe.fsBytesWritten
    val (_, wall, cpu) = timed(ctx.op("replay") {
      Replay.replay(ctx.spark, logDir, tableDir, ckpt, nBuckets = ctx.nBuckets,
        maxFilesPerTrigger = 1, dedup = Some(DedupSpec(indexDir, threshold = Threshold)),
        transform = if (ctx.trace.isDefined) JobTrace.unpinCallSite else identity)
    })
    val bytes = Probe.fsBytesWritten - b0
    ctx.drain()
    val prog = ctx.progress.take()
    require(prog.size == 1, s"expected 1 micro-batch, the query reported ${prog.size}")
    val steps = prog.map { p =>
      val t = Progress.startMs(p)
      Step(s"batch-${p.batchId}", t, t + Progress.ms(p, "triggerExecution"))
    }
    RoundStat(wall, cpu, BatchEvents, 1, bytes, steps, progress = prog)
  }

  def setup(): Unit = ()

  override def warmup(): Unit = { round(); round() }

  def round(): RoundStat = {
    val b = byBatch.size
    writeSegment(b, nextBatch())
    timedReplay()
  }

  def table: Option[LakeTable] = Some(LakeTable.load(ctx.spark, tableDir))
  def stores: Map[String, String] = Map("dedup" -> indexDir)

  def checks(): Seq[Check] = {
    val t = LakeTable.load(ctx.spark, tableDir)
    val admitted = byBatch.map { case (b, evs) => b -> evs.filterNot(e => planted.contains(e.docId)) }
    val model = mutable.HashMap.empty[String, (Long, Doc)]
    admitted.values.foreach(Gen.applyLww(model, _))
    val got = tableRows(t.read())
    // the audit trail the admission writes: (doc_id, dup_of, jaccard)
    val audit = ctx.spark.read.parquet(s"$indexDir/dropped")
      .select("doc_id", "dup_of").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val dropped = byBatch.values.flatten.filter(_.op == "I").map(_.docId).toSet -- got.map(_._1)
    val jac = audit.map { case (d, of) =>
      jaccard(firstTokens.getOrElse(d, Vector.empty), firstTokens.getOrElse(of, Vector.empty)) }
    Seq(sameState("state", got, Gen.live(model))) ++ lineage(t, admitted.toMap) ++ Seq(
      Check("dedup_dropped", dropped == planted.keySet && audit.keySet == planted.keySet,
        s"${dropped.size} dropped, ${audit.size} in audit, ${planted.size} planted"),
      Check("dedup_jaccard", jac.nonEmpty && jac.forall(_ >= Threshold),
        f"min recomputed jaccard ${if (jac.isEmpty) 0.0 else jac.min}%.3f over ${jac.size} drops"))
  }

  /** Jaccard of the token 3-shingle sets, as the admission defines it. */
  private def jaccard(a: Vector[Int], b: Vector[Int]): Double = {
    def sh(t: Vector[Int]) = t.sliding(3).toSet
    val (x, y) = (sh(a), sh(b))
    if (x.isEmpty && y.isEmpty) 0.0 else (x & y).size.toDouble / (x | y).size
  }
}
