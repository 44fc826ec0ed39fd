package cdcbench

import scala.collection.mutable

import graft.apply.BatchApply
import graft.lake.{Ivm, LakeTable}
import graft.model.ChangeLog
import graft.sources.CdcEnvelope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import Workload._

/**
 * `feed_consumers`: a preloaded table with feeds on, driven by a closed
 * loop with one caller. Each cycle applies one small update batch, then
 * runs a pure-feed IVM sync, an envelope export of that batch, a point
 * lookup of a fixed key set and a full-table scan aggregate. Every
 * answer is checked against the benchmark's own model in the same cycle.
 */
final class FeedConsumers(ctx: Ctx) extends Workload {
  val Preload = 10000
  val BatchEvents = 300
  val LookupKeys = 64
  val nominalRoundS = 5.3
  /** Each cycle stacks one delta file on every bucket; the warm-up and
    * three timed cycles stay within `BatchApply.DefaultMaxDeltaChain`
    * (4), so no timed cycle folds a bucket copy-on-write. */
  override val maxRounds = 3

  private val spark = ctx.spark
  private val gen = new Gen(ctx.seed)
  private val tableDir = s"${ctx.workDir}/feed-table"
  private val aggDir = s"${ctx.workDir}/feed-ivm"
  private val model: Model = mutable.HashMap.empty
  private var t: LakeTable = _
  private var keys: Seq[String] = Nil
  private var cycles = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private var checked = 0
  private val byBatch = mutable.LinkedHashMap.empty[Long, Seq[Ev]]

  private def frame(evs: Seq[Ev]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(evs.map(_.row): _*), ChangeLog.schema)

  private def apply(evs: Seq[Ev], batchId: Long): Unit =
    BatchApply.apply(t, frame(evs), batchId, changelog = true, preimages = true)

  def setup(): Unit = {
    val r = gen.rng(-1)
    val evs = Vector.fill(Preload)(gen.insert(r))
    t = LakeTable.create(spark, tableDir, graft.stream.Replay.initialSchema, ctx.nBuckets)
    apply(evs, 0L)
    byBatch(0L) = evs
    Gen.applyLww(model, evs)
    Ivm.sync(t, aggDir).collect()
    val kr = gen.rng(-2)
    keys = Vector.fill(LookupKeys)(Gen.docId(kr.nextLong(Preload))).distinct
  }

  def round(): RoundStat = {
    val batchId = cycles + 1
    val evs = gen.mixed(batchId, BatchEvents, pctInsert = 10, pctUpdate = 85)
    val prev = evs.map(_.docId).distinct
      .flatMap(d => model.get(d).collect { case (_, doc) if doc != null => d -> doc }).toMap
    val b0 = Probe.fsBytesWritten
    val ops = mutable.ArrayBuffer.empty[(Step, Double, Double)]
    def op[T](name: String)(body: => T): T = {
      val t0 = System.currentTimeMillis()
      val (r, wall, cpu) = timed(ctx.op(name)(body))
      ops += ((Step(name, t0, System.currentTimeMillis()), wall, cpu))
      r
    }
    op("apply")(apply(evs, batchId))
    val view = op("sync")(Ivm.sync(t, aggDir).collect())
    val env = op("export")(CdcEnvelope.exportEnvelopes(t, batchId - 1).collect())
    val looked = op("lookup")(t.readKeys(keys).select("doc_id", "tokens", "n_tok", "source").collect())
    val scan = op("scan")(t.read().agg(count(lit(1)), sum(col("n_tok")),
      sum(array_max(col("tokens"))), max(col("doc_id"))).collect().head)
    val bytes = Probe.fsBytesWritten - b0
    cycles += 1
    byBatch(batchId) = evs

    Gen.applyLww(model, evs)
    val live = Gen.live(model)
    checkCycle(evs, prev, live, view, env, looked, scan)
    RoundStat(ops.map(_._2).sum, ops.map(_._3).sum, evs.size.toLong, ops.size.toLong, bytes,
      ops.map(_._1).toSeq, counts = Map("export.rows" -> env.length.toDouble))
  }

  private def expect(name: String, ok: Boolean, detail: => String): Unit = {
    checked += 1
    if (!ok && failures.size < 20) failures += s"cycle $cycles $name: $detail"
  }

  private def checkCycle(evs: Seq[Ev], prev: Map[String, Doc], live: Map[String, Doc],
      view: Array[org.apache.spark.sql.Row], env: Array[org.apache.spark.sql.Row],
      looked: Array[org.apache.spark.sql.Row], scan: org.apache.spark.sql.Row): Unit = {
    // IVM view: GROUP BY source -> count(*), sum(n_tok)
    val wantView = live.values.groupBy(_.source).map { case (s, ds) =>
      s -> (ds.size.toLong, ds.map(_.nTok).sum) }
    val gotView = view.map(r => r.getString(0) ->
      (r.getLong(1), r.get(2).asInstanceOf[Number].longValue)).toMap
    expect("ivm_view", gotView == wantView, s"$gotView vs $wantView")

    // lookups: exactly the live docs among the fixed keys
    val wantLook = keys.flatMap(k => live.get(k).map(k -> _)).toMap
    val gotLook = looked.map(r => r.getString(0) ->
      Doc(r.getSeq[Int](1).toVector, r.getString(3))).toMap
    expect("lookup", gotLook == wantLook, s"${gotLook.size} rows vs ${wantLook.size}")

    // scan aggregate
    val wantScan = (live.size.toLong, live.values.map(_.nTok).sum,
      live.values.map(_.tokens.max.toLong).sum, live.keys.max)
    val gotScan = (scan.getLong(0), scan.get(1).asInstanceOf[Number].longValue,
      scan.get(2).asInstanceOf[Number].longValue, scan.getString(3))
    expect("scan", gotScan == wantScan, s"$gotScan vs $wantScan")

    // export: one envelope per changed doc; `after` is the doc's new
    // state, `before` the state the batch replaced
    val batchDocs = evs.map(_.docId).distinct
    implicit val formats: Formats = DefaultFormats
    val byDoc = env.map { r =>
      val p = JsonMethods.parse(r.getString(0)) \ "payload"
      def img(v: JValue): Option[Doc] = v match {
        case JNull | JNothing => None
        case o => Some(Doc((o \ "tokens").extract[Vector[Int]], (o \ "source").extract[String]))
      }
      // a change that replaced nothing and left nothing (a delete of
      // an absent doc) carries no image, hence no key
      val key = Seq(p \ "after", p \ "before").map(_ \ "doc_id").collectFirst {
        case JString(k) => k }
      key -> (img(p \ "after"), img(p \ "before"))
    }
    val gotEnv = byDoc.collect { case (Some(k), v) => k -> v }.toMap
    val wantEnv = batchDocs.map(d => d -> (live.get(d), prev.get(d)))
      .filter { case (_, (a, b)) => a.isDefined || b.isDefined }.toMap
    val keyless = byDoc.count(_._1.isEmpty)
    expect("export", byDoc.length == batchDocs.size &&
      keyless == batchDocs.size - wantEnv.size && gotEnv == wantEnv,
      s"${byDoc.length} envelopes for ${batchDocs.size} docs, " +
        s"${gotEnv.count { case (k, v) => wantEnv.get(k).contains(v) }} of ${wantEnv.size} match")
  }

  /** (version, batch id) of the table before the first timed cycle. */
  private var before: (Long, Long) = (0L, 0L)

  override def warmup(): Unit = {
    round()
    before = (t.current.version, t.current.batchId)
  }

  def checks(): Seq[Check] = {
    val after = tableRows(t.read())
    Seq(sameState("state", after, Gen.live(model))) ++ lineage(t, byBatch.toMap) ++ Seq(
      telescopes(t, before, after),
      Check("cycles", failures.isEmpty,
      if (failures.isEmpty) s"$checked per-cycle checks over $cycles cycles"
      else failures.mkString("; ")))
  }

  def table: Option[LakeTable] = Some(t)
  def stores: Map[String, String] = Map(
    "feed" -> s"$tableDir/${LakeTable.ChangelogDir}",
    "feed_delta" -> s"$tableDir/${LakeTable.DeltaFeedDir}",
    "ivm" -> aggDir)
}
