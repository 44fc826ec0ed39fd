package graft.apply

import graft.lake.LakeTable
import graft.model.ChangeLog
import org.apache.spark.Partitioner
import org.apache.spark.sql.{Column, DataFrame, SessionBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * BatchApply — canonicalize a micro-batch of change events and MERGE it
 * into a [[LakeTable]] as a copy-on-write upsert of touched buckets.
 *
 * This is the Spark-native replacement for the reference's keyed-upsert
 * writers: MySQL `writeMode=update` -> `INSERT ... ON DUPLICATE KEY
 * UPDATE` (DataX `plugin-rdbms-util/.../writer/util/WriterUtil.java:122-168`),
 * Mongo `ReplaceOneModel(..., upsert=true)`
 * (`mongodbwriter/.../MongoDBWriter.java:297-306`) and OTS
 * PutRow/UpdateRow/DeleteRow (`otswriter/.../model/OTSOpType.java:6`).
 * Where DataX applies rows one at a time in key order per channel, we get
 * the same final state set-wise: last-wins per key by lsn, then one
 * shuffle-join against the touched slice of the table.
 *
 * Exactly-once layering (north rule):
 *  1. batch-id fencing: a foreachBatch retry of an already-committed
 *     batch is skipped (the snapshot records the last applied batchId) —
 *     the analog of the reference's checkpoint version fencing
 *     (`OTSStreamReaderSlaveProxy.checkCheckpoint:270-285`);
 *  2. per-row lsn guard: a change only replaces a target row when its
 *     lsn is higher, and deletes are lsn-carrying tombstones — so even a
 *     duplicated or out-of-order *event* cannot corrupt the final state.
 *
 * Scale/skew notes: `canonicalize` is a keyed fold with a map-side
 * combine, so a hot doc_id (Zipf skew, axis B) collapses to one row per
 * input partition before the shuffle, which is all a salted two-phase
 * pre-aggregation would add. The MERGE join
 * sees at most one row per key per side, hence no join skew. COW cost is
 * bounded by bucket granularity: only buckets containing changed keys are
 * read and rewritten (manifest-pruned, never a full-table scan).
 */
object BatchApply {

  /** One row per doc_id: the winning (max-lsn) change of the batch.
    * Duplicate lsns (redelivery) collapse for free: identical payloads.
    *
    * The same single shuffle ALSO carries the batch's offset statistics
    * (`n_events`, `min_lsn`, `has_lang` per key, plus the key's `shard`)
    * so [[apply]] derives lineage/watermarks/evolution from the
    * canonical rows instead of a second full scan of the raw batch.
    * Keys are shard-sticky (one binlog shard owns a key — the model's
    * contract, same as the watermark fencing), so per-shard stats
    * aggregate exactly from per-key stats.
    *
    * The reduction is a keyed fold of the changes ([[Latest]]) with a
    * map-side combine, so a hot doc_id collapses to one state per input
    * partition before the shuffle, and the shuffle is Spark's hash
    * partitioning on `doc_id` (shuffle-partition count), which the frame
    * declares: the merge join needs no second exchange of this side.
    * It runs no aggregation plan, so no class is generated for it.
    * `saltBuckets` has no effect: the map-side combine already collapses
    * a hot key before the shuffle, which is what salting was for. It is
    * kept for the callers that pass it ([[graft.stream.Replay]], the
    * job spec's `writer.saltBuckets`, the `graft.Bench` skew probe).
    *
    * A payload column the input lacks reads as null: the change feed of
    * a table that never evolved carries no `lang`. */
  def canonicalize(events: DataFrame, saltBuckets: Int = 1): DataFrame = {
    def in(n: String): Column =
      if (events.columns.contains(n)) col(n) else lit(null).cast(ChangeLog.schema(n).dataType).as(n)
    latestPerKey(events.select(col("doc_id"), col("lsn").cast(LongType).as("lsn"), col("op"),
      in("tokens"), in("n_tok"), in("source"), in("lang"), col("shard")))
  }

  /** [[canonicalize]]'s fold over `changes` (doc_id, lsn, op, tokens,
    * n_tok, source, lang, shard). `has_insert` — did this batch carry
    * an INSERT for the key? — is the first-seen marker dedup admission
    * gates on, so updates never re-pay the probe. SQL null semantics
    * as an aggregate's: a change with a null lsn never wins and has no
    * lsn to count, and a key whose ops are all null has no
    * `has_insert`. */
  private def latestPerKey(changes: DataFrame): DataFrame = {
    val schema = changes.schema
    val keyType = schema("doc_id").dataType
    val n = changes.sparkSession.sessionState.conf.numShufflePartitions
    val bucketOf = LakeTable.bucketOfValue(keyType, n)
    val byKeyHash = new Partitioner {
      def numPartitions: Int = n
      def getPartition(key: Any): Int = bucketOf(key)
    }
    val types = schema.fields.map(_.dataType)
    val rows = changes.queryExecution.toRdd
      .map(r => (InternalRow.copyValue(r.get(0, keyType)), Latest(r)))
      .reduceByKey(byKeyHash, _ + _)
      .map { case (key, l) =>
        val w = l.win
        def f(i: Int): Any = if (w == null || w.isNullAt(i)) null else w.get(i, types(i))
        new GenericInternalRow(Array[Any](
          key, f(1), f(2), f(3), f(4), f(5), f(6), f(7), l.n, l.minLsn,
          if (l.lang) 1 else 0, if (l.insert < 0) null else l.insert)): InternalRow
      }
    val out = StructType(schema.fields.map(_.copy(nullable = true)) ++ Seq(
      StructField("n_events", LongType), StructField("min_lsn", LongType),
      StructField("has_lang", IntegerType), StructField("has_insert", IntegerType)))
    SessionBridge.hashPartitionedFrame(changes.sparkSession, rows, out, "doc_id", n)
  }

  /** One key's fold state: the winning change row (max lsn, null when
    * no change had one), the change count, the min lsn, whether any
    * change carried `lang`, and whether one was an insert (-1: no op
    * known). */
  private final case class Latest(win: InternalRow, n: Long,
      minLsn: java.lang.Long, lang: Boolean, insert: Int) {
    def +(o: Latest): Latest = Latest(
      if (o.win != null && (win == null || o.win.getLong(1) > win.getLong(1))) o.win else win,
      n + o.n,
      if (minLsn == null) o.minLsn else if (o.minLsn == null) minLsn else math.min(minLsn, o.minLsn),
      lang || o.lang, math.max(insert, o.insert))
  }

  private object Latest {
    private val Insert = org.apache.spark.unsafe.types.UTF8String.fromString("I")

    def apply(r: InternalRow): Latest = {
      val hasLsn = !r.isNullAt(1)
      Latest(if (hasLsn) r.copy() else null, 1L,
        if (hasLsn) java.lang.Long.valueOf(r.getLong(1)) else null, !r.isNullAt(6),
        if (r.isNullAt(2)) -1 else if (r.getUTF8String(2) == Insert) 1 else 0)
    }
  }

  /** The evolved user schema this engine knows how to advance to (additive:
    * +lang, n_tok int32->int64). */
  def evolvedSchema(base: StructType): StructType = {
    val widened = base.fields.map {
      case f if f.name == "n_tok" && f.dataType == IntegerType => f.copy(dataType = LongType)
      case f => f
    }
    if (widened.exists(_.name == "lang")) StructType(widened)
    else StructType(widened :+ StructField("lang", StringType, nullable = true))
  }

  /** Change fraction below which a touched bucket takes a merge-on-read
    * DELTA file instead of a copy-on-write rewrite. */
  val DefaultDeltaThreshold = 0.05

  /** Max stacked delta files per bucket before a COW is forced (bounds
    * read-side resolution work). */
  val DefaultMaxDeltaChain = 4

  /** Canonical rows per partition up to which the merge join builds an
    * in-memory hash table of them (a shuffled hash join: no sort, but
    * its table cannot spill, so it holds at most this many rows per
    * task); a larger batch takes the sort-merge join. */
  val HashJoinMaxRows = 65536

  /** The `assumeOrdered` input fence: drop events at-or-below the given
    * per-shard watermarks (only sound when micro-batches arrive in
    * per-shard lsn order — see [[apply]]). */
  private def fenceByWatermarks(batch: DataFrame, wm: Map[Int, Long], on: Boolean): DataFrame =
    if (!on || wm.isEmpty) batch else {
      val wmMap = map(wm.toSeq.sortBy(_._1)
        .flatMap { case (s, w) => Seq(lit(s), lit(w)) }: _*)
      batch.filter(col("lsn") > coalesce(try_element_at(wmMap, col("shard")), lit(Long.MinValue)))
    }

  /** Apply one micro-batch. Returns the committed (or current, if fenced)
    * snapshot.
    *
    * Write-mode per touched bucket (the COW/MOR tradeoff): when the
    * batch changes less than `deltaThreshold` of a bucket's base rows
    * and the bucket's delta chain is shorter than `maxDeltaChain`, the
    * canonical changes are APPENDED as a delta file (merge-on-read —
    * readers resolve max-lsn per key, [[LakeTable.readResolved]]);
    * otherwise the bucket is copy-on-written, which also folds any
    * existing delta chain. This keeps steady-state write amplification
    * proportional to the change volume, not the table size. */
  def apply(table: LakeTable, batch: DataFrame, batchId: Long, saltBuckets: Int = 1,
      assumeOrdered: Boolean = false,
      deltaThreshold: Double = DefaultDeltaThreshold,
      maxDeltaChain: Int = DefaultMaxDeltaChain,
      changelog: Boolean = false,
      preimages: Boolean = false): LakeTable.Snapshot = {
    val snap = table.current
    if (batchId >= 0 && batchId <= snap.batchId) return snap
    applyCanonical(table, prepare(table, batch, saltBuckets, assumeOrdered),
      batchId, deltaThreshold, maxDeltaChain, changelog, preimages)
  }

  /** The batch's single shuffle: optional ordered-input watermark fence,
    * then [[canonicalize]]. Public so [[graft.stream.Replay]] can run
    * dedup admission BETWEEN canonicalize and [[applyCanonical]] —
    * admission then rides this shuffle (one row per doc, already
    * hash-partitioned by doc_id) instead of paying its own
    * dropDuplicates shuffle over the raw events.
    *
    * The watermark fence is opt-in: ONLY sound when micro-batches are
    * delivered in per-shard lsn order (e.g. an ordered queue source).
    * The file source makes no such promise; the per-row lsn guard in
    * the merge is the unconditional correctness net. */
  def prepare(table: LakeTable, batch: DataFrame, saltBuckets: Int = 1,
      assumeOrdered: Boolean = false): DataFrame =
    canonicalize(fenceByWatermarks(batch, table.current.watermarks, assumeOrdered), saltBuckets)

  /** [[apply]] over an already-canonicalized batch (the output of
    * [[prepare]], possibly filtered by dedup admission — dropping a
    * doc's canonical row is equivalent to dropping all its raw events:
    * stats, lineage and the merge all read canonical rows only). */
  def applyCanonical(table: LakeTable, canonicalIn: DataFrame, batchId: Long,
      deltaThreshold: Double = DefaultDeltaThreshold,
      maxDeltaChain: Int = DefaultMaxDeltaChain,
      changelog: Boolean = false,
      preimages: Boolean = false): LakeTable.Snapshot = {
    var snap = table.current
    // ---- exactly-once fence: retry of an already-committed batch. Its
    //      feed files were recorded by the same commit as its data, so
    //      nothing of it is left to do.
    if (batchId >= 0 && batchId <= snap.batchId) return snap

    val withBucket = canonicalIn
      .withColumn("bucket", LakeTable.bucketExpr(col("doc_id"), snap.nBuckets))
    // ---- per-shard stats (lineage offset ranges, watermark advance,
    //      evolution detection) AND per-bucket change counts, folded
    //      over the CANONICAL rows in the job that keeps them for the
    //      merge — the canonicalize shuffle already aggregated per-key
    //      raw-event stats, so the raw batch is scanned exactly once per
    //      batch, and the stats cost no job and no generated class of
    //      their own (one fixed job-launch cost less per micro-batch)
    val at = withBucket.schema.fieldNames.zipWithIndex.toMap
    val (iShard, iMin, iLsn, iN, iLang, iBucket) =
      (at("shard"), at("min_lsn"), at("lsn"), at("n_events"), at("has_lang"), at("bucket"))
    val (canonical, folds, release) = SessionBridge.persistFold(withBucket) { it =>
      val shards = scala.collection.mutable.HashMap.empty[Int, ShardStat]
      val docs = scala.collection.mutable.HashMap.empty[Int, Long]
      it.foreach { r =>
        if (!r.isNullAt(iShard)) {
          val st = ShardStat(r.getLong(iMin), r.getLong(iLsn), r.getLong(iN), r.getInt(iLang) > 0)
          shards.updateWith(r.getInt(iShard))(o => Some(o.fold(st)(_ + st)))
        }
        docs.updateWith(r.getInt(iBucket))(o => Some(o.getOrElse(0L) + 1L))
      }
      (shards.toMap, docs.toMap)
    }
    try {
      val stats = folds.flatMap(_._1).groupMapReduce(_._1)(_._2)(_ + _)
      if (stats.isEmpty) return snap
      val needsEvolve = stats.values.exists(_.hasLang) &&
        !snap.schema.fieldNames.contains("lang")
      if (needsEvolve) snap = table.evolveSchema(evolvedSchema(snap.schema))
      val lineage = stats.toSeq.sortBy(_._1).map { case (shard, st) =>
        LakeTable.LineageEntry(batchId, shard, st.minLsn, st.maxLsn, st.rows) }
      val watermarks = stats.map { case (shard, st) => shard -> st.maxLsn }

      // ---- manifest-level pruning + per-bucket change counts
      val changedPerBucket = folds.flatMap(_._2).groupMapReduce(_._1)(_._2)(_ + _)
      val touched = changedPerBucket.keySet
      if (touched.isEmpty) return snap
      // each fold is one partition of the kept canonical rows
      val smallBuild = folds.forall(_._2.values.sum <= HashJoinMaxRows)

      // ---- write-mode decision per bucket (COW vs merge-on-read delta)
      val baseRows = snap.files.filter(f => !f.delta && touched(f.bucket))
        .groupBy(_.bucket).map { case (b, fs) => b -> fs.map(_.rows).sum }
      val deltaChain = snap.files.filter(f => f.delta && touched(f.bucket))
        .groupBy(_.bucket).map { case (b, fs) => b -> fs.size }
      val deltaBuckets = touched.filter { b =>
        val base = baseRows.getOrElse(b, 0L)
        base > 0 && deltaChain.getOrElse(b, 0) < maxDeltaChain &&
          changedPerBucket(b).toDouble / base <= deltaThreshold
      }
      val cowBuckets = touched -- deltaBuckets

      // write-side shuffle elision: bucketExpr IS Spark's shuffle hash,
      // so when the session's shuffle partition count equals nBuckets,
      // the merge output (exchanged on doc_id) already confines every
      // bucket to a single task — write straight through. (AQE may
      // coalesce/split partitions; per-file stats keep that correct, it
      // only costs extra files.)
      // (read via sessionState: RuntimeConfig.get(key, default) VALIDATES
      // the default string, and "0" is rejected when the session never
      // set the key explicitly — the spark-submit case)
      val aligned = canonicalIn.sparkSession.sessionState.conf.numShufflePartitions == snap.nBuckets

      // ---- ONE merge pass, ONE write job. The kept canonical rows
      //      full-outer-join the resolved touched buckets (read once, and
      //      only when a COW bucket has target files or pre-images are
      //      on). The canonical side is already hash-partitioned by
      //      doc_id; while its partitions are small
      //      ([[HashJoinMaxRows]]) the join is a shuffled hash join that
      //      builds on it, so neither side is sorted, and otherwise
      //      Spark's sort-merge join, which spills. Every joined row
      //      emits a tagged stream: the merged
      //      COW row or the MOR delta row, the change-feed row, and the
      //      signed pre/post-image rows. The winner decision
      //      (`c.lsn > t._lsn`) is the same expression for the data and
      //      the images, so the images are exactly the state transition
      //      the commit installs: a change that loses the merge emits no
      //      image (the change feed still records it). The tasks route
      //      rows by tag into data files and the two feeds' files
      //      ([[graft.lake.TaskWriter]]).
      val images = changelog && preimages
      val readBuckets = if (images) touched else cowBuckets
      val target = snap.files.exists(f => readBuckets(f.bucket))
      val joined =
        if (!target) canonical.as("c")
        else table.readResolved(Some(readBuckets), Some(snap)).as("t")
          .join((if (smallBuild) canonical.hint("shuffle_hash") else canonical).as("c"),
            col("t.doc_id") === col("c.doc_id"), "full_outer")
      def t(n: String): Column = if (target) col(s"t.$n") else lit(null)
      val userSchema = snap.schema
      val payload = userSchema.fieldNames.toIndexedSeq.filter(_ != "doc_id")
      val userType = userSchema.fields.map(f => f.name -> f.dataType).toMap
      val changeType = canonical.schema.fields.map(f => f.name -> f.dataType).toMap
      /** a change column cast to the TABLE's type (the post row must
        * equal the row a direct read serves); null when the change
        * lacks it (a column an evolution added beyond the event's) */
      def fromC(n: String): Column =
        if (changeType.contains(n)) graft.lake.SchemaCompat.castTo(col(s"c.$n"), changeType(n), userType(n))
        else lit(null)

      val hasT = if (target) col("t.doc_id").isNotNull else lit(false)
      val hasC = col("c.doc_id").isNotNull
      val wins = !hasT || (hasC && col("c.lsn") > t(LakeTable.LsnCol))
      val bucket =
        if (target) coalesce(col("c.bucket"), LakeTable.bucketExpr(col("t.doc_id"), snap.nBuckets))
        else col("c.bucket")
      val isCow =
        if (deltaBuckets.isEmpty) lit(true)
        else if (cowBuckets.isEmpty) lit(false)
        else bucket.isin(cowBuckets.toSeq.map(Integer.valueOf): _*)
      // a COW bucket keeps the target row unless the change wins; a MOR
      // bucket appends every change (readers resolve max _lsn per key)
      val keepT = isCow && !wins

      val phys = LakeTable.asNullable(snap.physicalSchema(snap.schemaId))
      val feeds = (if (changelog) Seq(LakeTable.ChangelogDir) else Nil) ++
        (if (images) Seq(LakeTable.DeltaFeedDir) else Nil)
      val outs = table.dataOut(phys) +: feeds.map(table.feedOut(_, userSchema, batchId)).toIndexedSeq
      /** one tagged element: `kind`, then one struct per output, only
        * this kind's filled (cast field by field to its file schema) */
      def tagged(cond: Column, kind: Int, cols: Column*): Column =
        when(cond, struct(lit(kind).as("kind") +: outs.indices.map { k =>
          val s = outs(k).rowSchema
          (if (k != kind) lit(null).cast(s)
          else struct(s.fields.zip(cols).map { case (f, v) => v.cast(f.dataType).as(f.name) }.toIndexedSeq: _*))
            .as(s"p$k")
        }: _*))
      val dataRow = tagged(isCow || hasC, 0, userSchema.fieldNames.toIndexedSeq.map(n =>
          when(keepT, t(n)).otherwise(fromC(n))) ++ Seq(
        when(keepT, t(LakeTable.LsnCol)).otherwise(col("c.lsn")),
        when(keepT, t(LakeTable.DeletedCol)).otherwise(col("c.op") === "D")): _*)
      // the feeds' columns in [[LakeTable.changeFeedSchema]] and
      // [[LakeTable.deltaFeedSchema]] order, `batch_id` left to the tasks
      val changeRow = tagged(hasC, 1, (Seq(col("c.doc_id"), col("c.op"), col("c.lsn")) ++
        payload.map(fromC) :+ col("c.shard")): _*)
      // pre-image: the key was LIVE before this batch and the change
      // wins; post-image: what the merge installs, unless a delete
      val preRow = tagged(hasC && wins && hasT && !t(LakeTable.DeletedCol), 2,
        Seq(col("c.doc_id"), lit(-1), t(LakeTable.LsnCol)) ++ payload.map(t): _*)
      val postRow = tagged(hasC && wins && col("c.op") =!= "D", 2,
        Seq(col("c.doc_id"), lit(1), col("c.lsn")) ++ payload.map(fromC): _*)
      val rows = joined
        .select(bucket.as("bucket"), coalesce(col("c.doc_id"), t("doc_id")).as("key"),
          explode(array(Seq(dataRow) ++ (if (changelog) Seq(changeRow) else Nil) ++
            (if (images) Seq(preRow, postRow) else Nil): _*)).as("e"))
        .filter(col("e").isNotNull)
        .select(col("e.kind") +: col("bucket") +: col("key") +: outs.indices.map(k => col(s"e.p$k")): _*)

      // ---- ONE commit: the data files and both feeds' file sets become
      //      visible together. A failed or superseded task attempt's
      //      files are in no set, and a feed that got no rows still
      //      records its (empty) set, so coverage sees the batch.
      val written = graft.lake.TaskWriter.write(
        if (aligned) rows else rows.repartition(col("bucket")), outs)
      val files = written.filter(_.kind == 0).map(w => table.dataFile(w, snap.schemaId)
        .copy(delta = deltaBuckets(w.bucket)))
      val feedSets = feeds.zipWithIndex.map { case (kind, i) => LakeTable.FeedSet(kind, batchId, batchId,
        snap.schemaId, written.filter(_.kind == i + 1).map(w => table.relative(w.path))) }
      table.commit(files, cowBuckets, batchId, watermarks, lineage, snap.version, newFeeds = feedSets)
    } finally release()
  }

  /** One shard's offset stats over a batch's canonical rows. */
  private final case class ShardStat(minLsn: Long, maxLsn: Long, rows: Long, hasLang: Boolean) {
    def +(o: ShardStat): ShardStat = ShardStat(math.min(minLsn, o.minLsn),
      math.max(maxLsn, o.maxLsn), rows + o.rows, hasLang || o.hasLang)
  }
}
