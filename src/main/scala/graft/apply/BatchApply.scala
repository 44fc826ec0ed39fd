package graft.apply

import graft.lake.LakeTable
import org.apache.spark.sql.{Column, DataFrame}
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
 * Scale/skew notes: `canonicalize` is a `groupBy(doc_id).agg(max_by)` —
 * a declarative aggregate with map-side partial aggregation, so a
 * hot doc_id (Zipf skew, axis B) collapses to one row per input
 * partition before the shuffle; `saltBuckets > 1` adds an explicit
 * two-phase pre-aggregation for extreme single-key skew. The MERGE join
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
    * aggregate exactly from per-key stats. */
  def canonicalize(events: DataFrame, saltBuckets: Int = 1): DataFrame = {
    val payload = struct(
      col("lsn"), col("op"), col("tokens"), col("n_tok"), col("source"), col("lang"), col("shard"))
    val pre =
      if (saltBuckets <= 1) events
        .groupBy(col("doc_id"))
        .agg(max_by(payload, col("lsn")).as("w"), count(lit(1)).as("n_events"),
          min(col("lsn")).as("min_lsn"), max(col("lang").isNotNull.cast("int")).as("has_lang"),
          max((col("op") === "I").cast("int")).as("has_insert"))
      else events
        // two-phase for hot keys: salt pre-aggregation, then merge the
        // per-salt winners AND their partial stats
        .groupBy(col("doc_id"), pmod(col("lsn"), lit(saltBuckets.toLong)).as("_salt"))
        .agg(max_by(payload, col("lsn")).as("w"), count(lit(1)).as("n_events"),
          min(col("lsn")).as("min_lsn"), max(col("lang").isNotNull.cast("int")).as("has_lang"),
          max((col("op") === "I").cast("int")).as("has_insert"))
        .groupBy(col("doc_id"))
        .agg(max_by(col("w"), col("w.lsn")).as("w"), sum(col("n_events")).as("n_events"),
          min(col("min_lsn")).as("min_lsn"), max(col("has_lang")).as("has_lang"),
          max(col("has_insert")).as("has_insert"))
    pre.select(col("doc_id"), col("w.lsn").as("lsn"), col("w.op").as("op"),
      col("w.tokens").as("tokens"), col("w.n_tok").as("n_tok"),
      col("w.source").as("source"), col("w.lang").as("lang"), col("w.shard").as("shard"),
      col("n_events").cast("long").as("n_events"), col("min_lsn"), col("has_lang"),
      // did this batch carry an INSERT for the key? (first-seen marker —
      // dedup admission gates on it so updates never re-pay the probe)
      col("has_insert"))
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

  /** The `assumeOrdered` input fence: drop events at-or-below the given
    * per-shard watermarks (only sound when micro-batches arrive in
    * per-shard lsn order — see [[apply]]). */
  private def fenceByWatermarks(batch: DataFrame, wm: Map[Int, Long], on: Boolean): DataFrame =
    if (!on || wm.isEmpty) batch else {
      val wmMap = map(wm.toSeq.sortBy(_._1)
        .flatMap { case (s, w) => Seq(lit(s), lit(w)) }: _*)
      batch.filter(col("lsn") > coalesce(try_element_at(wmMap, col("shard")), lit(Long.MinValue)))
    }

  private def changelogPartition(table: LakeTable, batchId: Long): String =
    s"${table.root}/${LakeTable.ChangelogDir}/batch_id=$batchId"

  /** Staging dir for a feed partition: dot-prefixed, so parquet readers
    * and live directory tailers ignore it until publication. */
  private[graft] def stagedChangelog(table: LakeTable, batchId: Long): String =
    s"${table.root}/${LakeTable.ChangelogDir}/.staged-batch_id=$batchId"

  /** PUBLISH a staged feed partition with one atomic directory rename
    * (the same primitive as the snapshot-descriptor commit): live
    * tailers see either no partition or the complete one — never a
    * partial write, and never rows of an uncommitted batch (staging
    * happens before the commit, publication after). Public because
    * [[graft.stream.Replay]]'s fenced-retry path calls it to heal the
    * commit-landed/publish-missing crash window — the staged content
    * is EXACTLY what the committed run produced from its own input
    * (transforms, dirty routing, dedup admission included), so the
    * heal is a metadata op, never a recomputation. No-op when already
    * published or never staged. */
  /** `replace = true` ONLY on the fresh-commit path (this process just
    * committed `batchId`, so the staged dir is authoritative): an
    * existing final partition there is a stale orphan from a rollback
    * whose cleanup was interrupted ([[LakeTable.rollbackTo]]) and must
    * be replaced, not kept. Fenced retries keep the default — there the
    * final partition is the previously published truth and a staged
    * leftover is the debris. */
  def publishChangelog(table: LakeTable, batchId: Long, replace: Boolean = false): Unit =
    publishStagedDir(table, stagedChangelog(table, batchId),
      changelogPartition(table, batchId), replace, s"changelog batch $batchId")

  private def publishStagedDir(table: LakeTable, stagedDir: String, finalDir: String,
      replace: Boolean, what: String): Unit = {
    val conf = table.spark.sparkContext.hadoopConfiguration
    val staged = new org.apache.hadoop.fs.Path(stagedDir)
    val fin = new org.apache.hadoop.fs.Path(finalDir)
    val fs = fin.getFileSystem(conf)
    if (fs.exists(fin) && replace && fs.exists(staged)) fs.delete(fin, true)
    if (fs.exists(fin)) {
      if (fs.exists(staged)) fs.delete(staged, true) // republish race debris
    } else if (fs.exists(staged)) {
      if (!fs.rename(staged, fin))
        throw new IllegalStateException(s"$what publish rename failed")
    }
  }

  // ------------------------------------------------- pre-image delta feed

  private def deltaFeedPartition(table: LakeTable, batchId: Long): String =
    s"${table.root}/${LakeTable.DeltaFeedDir}/batch_id=$batchId"

  private[graft] def stagedDeltaFeed(table: LakeTable, batchId: Long): String =
    s"${table.root}/${LakeTable.DeltaFeedDir}/.staged-batch_id=$batchId"

  /** Publish a staged delta-feed partition (same atomic-rename
    * discipline and crash-window healing as [[publishChangelog]]). */
  def publishDeltaFeed(table: LakeTable, batchId: Long, replace: Boolean = false): Unit =
    publishStagedDir(table, stagedDeltaFeed(table, batchId),
      deltaFeedPartition(table, batchId), replace, s"delta-feed batch $batchId")

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
    if (batchId >= 0 && batchId <= snap.batchId) {
      if (changelog && batchId == snap.batchId) {
        publishChangelog(table, batchId)
        if (preimages) publishDeltaFeed(table, batchId)
      }
      return snap
    }
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
    // ---- exactly-once fence: retry of an already-committed batch.
    //      With the feed enabled, the only changelog work possibly left
    //      undone is PUBLICATION (the staged partition was written
    //      before that batch's commit; a crash between commit and
    //      publish leaves it staged) — heal with the same atomic rename.
    if (batchId >= 0 && batchId <= snap.batchId) {
      if (changelog && batchId == snap.batchId) {
        publishChangelog(table, batchId)
        if (preimages) publishDeltaFeed(table, batchId)
      }
      return snap
    }

    val canonical = canonicalIn
      .withColumn("bucket", LakeTable.bucketExpr(col("doc_id"), snap.nBuckets))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ---- per-shard stats (lineage offset ranges, watermark advance,
      //      evolution detection) AND per-bucket change counts in ONE
      //      grouping-sets job over the CANONICAL rows — the
      //      canonicalize shuffle already aggregated per-key raw-event
      //      stats, so the raw batch is scanned exactly once per batch,
      //      and fusing the two tiny collects halves the serial
      //      job-launch cost the driver pays every micro-batch (the
      //      fixed per-batch overhead is what erodes N->4N scaling
      //      efficiency: it is constant across parallelism levels)
      val shardAndBucket = canonical.groupingSets(
          Seq(Seq(col("shard")), Seq(col("bucket"))), col("shard"), col("bucket"))
        .agg(min(col("min_lsn")).as("minLsn"), max(col("lsn")).as("maxLsn"),
          sum(col("n_events")).as("rows"), max(col("has_lang")).as("hasLang"),
          count(lit(1)).as("docs"))
        .collect()
      val stats = shardAndBucket.filter(r => !r.isNullAt(r.fieldIndex("shard")))
      if (stats.isEmpty) return snap
      val needsEvolve = stats.exists(_.getAs[Int]("hasLang") > 0) &&
        !snap.schema.fieldNames.contains("lang")
      if (needsEvolve) snap = table.evolveSchema(evolvedSchema(snap.schema))
      val lineage = stats.map(r => LakeTable.LineageEntry(
        batchId, r.getAs[Int]("shard"), r.getAs[Long]("minLsn"), r.getAs[Long]("maxLsn"), r.getAs[Long]("rows"))).toSeq
      val watermarks = stats.map(r => r.getAs[Int]("shard") -> r.getAs[Long]("maxLsn")).toMap

      // ---- manifest-level pruning + per-bucket change counts (the
      //      grouping-set rows keyed by bucket)
      val changedPerBucket = shardAndBucket
        .filter(r => !r.isNullAt(r.fieldIndex("bucket")))
        .map(r => r.getAs[Int]("bucket") -> r.getAs[Long]("docs")).toMap
      val touched = changedPerBucket.keySet
      if (touched.isEmpty) return snap

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

      // ---- ONE merge pass, ONE write job. The persisted canonical rows
      //      full-outer-join the resolved touched buckets (read once, and
      //      only when a COW bucket has target files or pre-images are
      //      on), and every joined row emits a tagged stream: the merged
      //      COW row or the MOR delta row, the change-feed row, and the
      //      signed pre/post-image rows. The winner decision
      //      (`c.lsn > t._lsn`) is the same expression for the data and
      //      the images, so the staged images are exactly the state
      //      transition the commit installs: a change that loses the
      //      merge emits no image (the change feed still records it).
      //      The tasks route rows by tag into data files and the two
      //      staged feed dirs ([[graft.lake.TaskWriter]]).
      val images = changelog && preimages
      val readBuckets = if (images) touched else cowBuckets
      val target = snap.files.exists(f => readBuckets(f.bucket))
      val c = canonical.as("c")
      val joined =
        if (!target) c
        else table.readResolved(Some(readBuckets), Some(snap)).as("t")
          .join(c, col("t.doc_id") === col("c.doc_id"), "full_outer")
      def t(n: String): Column = if (target) col(s"t.$n") else lit(null)
      val userSchema = snap.schema
      val userType = userSchema.fields.map(f => f.name -> f.dataType).toMap
      val changeType = canonical.schema.fields.map(f => f.name -> f.dataType).toMap
      /** a change column cast to the TABLE's type (the post row must
        * equal the row a direct read serves); null when the table lacks it */
      def fromC(n: String): Column =
        if (userType.contains(n)) graft.lake.SchemaCompat.castTo(col(s"c.$n"), changeType(n), userType(n))
        else lit(null)
      def fromT(n: String): Column = if (userType.contains(n)) t(n) else lit(null)

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
      val feedFile = (s: StructType) => StructType(s.fields.filter(_.name != "batch_id"))
      val outs = IndexedSeq(table.dataOut(phys)) ++
        (if (changelog) Seq(graft.lake.TaskWriter.Out(stagedChangelog(table, batchId),
          feedFile(LakeTable.changeFeedSchemaOf(snap.schema)))) else Nil) ++
        (if (images) Seq(graft.lake.TaskWriter.Out(stagedDeltaFeed(table, batchId),
          feedFile(LakeTable.deltaFeedSchema))) else Nil)
      /** one tagged element: `kind`, then one struct per output, only
        * this kind's filled (cast field by field to its file schema) */
      def tagged(cond: Column, kind: Int, cols: Column*): Column =
        when(cond, struct(lit(kind).as("kind") +: outs.indices.map { k =>
          val s = outs(k).schema
          (if (k != kind) lit(null).cast(s)
          else struct(s.fields.zip(cols).map { case (f, v) => v.cast(f.dataType).as(f.name) }.toIndexedSeq: _*))
            .as(s"p$k")
        }: _*))
      val dataRow = tagged(isCow || hasC, 0, userSchema.fieldNames.toIndexedSeq.map(n =>
          when(keepT, t(n)).otherwise(fromC(n))) ++ Seq(
        when(keepT, t(LakeTable.LsnCol)).otherwise(col("c.lsn")),
        when(keepT, t(LakeTable.DeletedCol)).otherwise(col("c.op") === "D")): _*)
      val changeRow = tagged(hasC, 1, col("c.doc_id"), col("c.op"), col("c.lsn"), col("c.tokens"),
        col("c.n_tok"), col("c.source"), col("c.lang"), col("c.shard"))
      // pre-image: the key was LIVE before this batch and the change
      // wins; post-image: what the merge installs, unless a delete
      val preRow = tagged(hasC && wins && hasT && !t(LakeTable.DeletedCol), 2,
        col("c.doc_id"), lit(-1), t(LakeTable.LsnCol),
        fromT("tokens"), fromT("n_tok"), fromT("source"), fromT("lang"))
      val postRow = tagged(hasC && wins && col("c.op") =!= "D", 2,
        col("c.doc_id"), lit(1), col("c.lsn"),
        fromC("tokens"), fromC("n_tok"), fromC("source"), fromC("lang"))
      val rows = joined
        .select(bucket.as("bucket"), coalesce(col("c.doc_id"), t("doc_id")).as("key"),
          explode(array(Seq(dataRow) ++ (if (changelog) Seq(changeRow) else Nil) ++
            (if (images) Seq(preRow, postRow) else Nil): _*)).as("e"))
        .filter(col("e").isNotNull)
        .select(col("e.kind") +: col("bucket") +: col("key") +: outs.indices.map(k => col(s"e.p$k")): _*)

      // ---- STAGE (hidden dot-dirs) before the commit, PUBLISH (one
      //      atomic rename each) after it: a visible feed partition only
      //      ever holds a COMMITTED batch's COMPLETE changes. The staged
      //      dirs are cleared before the write (files of a failed earlier
      //      attempt of this batch); after it, any staged file that no
      //      successful task reported (a failed or superseded task
      //      attempt) is deleted, and a feed that got no rows still gets
      //      its empty dir, so every applied batch publishes a partition.
      //      The commit-landed/publish-missing crash window is healed by
      //      the batch's retry (the fence path above, reached via
      //      Replay's fenced branch) with the same rename — a metadata
      //      op on the staged content, never a recomputation.
      val conf = table.spark.sparkContext.hadoopConfiguration
      outs.tail.foreach { o =>
        val d = new org.apache.hadoop.fs.Path(o.dir)
        d.getFileSystem(conf).delete(d, true)
      }
      val written = graft.lake.TaskWriter.write(
        if (aligned) rows else rows.repartition(col("bucket")), outs)
      outs.indices.tail.foreach { k =>
        graft.lake.TaskWriter.keepOnlyReported(conf, outs(k).dir, written.filter(_.kind == k))
      }
      val files = written.filter(_.kind == 0).map(w => table.dataFile(w, snap.schemaId)
        .copy(delta = deltaBuckets(w.bucket)))
      val committed = table.commit(files, cowBuckets, batchId, watermarks, lineage, snap.version)
      // replace: this process just committed batchId, so the staged dir
      // is authoritative — a pre-existing final partition is a stale
      // orphan of an interrupted rollback and must not win
      if (changelog) publishChangelog(table, batchId, replace = true)
      if (images) publishDeltaFeed(table, batchId, replace = true)
      committed
    } finally canonical.unpersist(false)
  }
}
