package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incremental view maintenance (IVM) — a CDC CONSUMER that keeps a
 * downstream grouped aggregate (`GROUP BY grp: count(*), sum(sumCol)`)
 * in sync with a lake table WITHOUT re-aggregating the table: each
 * `sync` advances the aggregate in work proportional to the CHANGED
 * rows, not the table.
 *
 * This is the materialized-view half of the change-data-feed story
 * (q62 produces the feed; this consumes it): at 10^10 rows where a day
 * touches 2% of keys, the nightly roll-up costs ~2% of the rows, not a
 * full pass.
 *
 * Two delta regimes, chosen per sync:
 *
 *   - **Pure-feed (preferred)**: when the table was replayed with
 *     `changelog = true, preimages = true`, every applied batch also
 *     committed SIGNED pre/post-image rows
 *     ([[LakeTable.readDeltaChanges]]). The per-group delta is then ONE
 *     aggregation of the feed sets in `(synced, current]` —
 *     ZERO table reads, no key-set materialization, no snapshot joins.
 *     The telescoping algebra: each batch's signed rows sum to (state
 *     after − state before), so the range sums to exactly the state
 *     delta between the two fences.
 *   - **Snapshot-diff (fallback)**: without pre-images, the changed
 *     KEYS come from the main feed ([[LakeTable.readChanges]] —
 *     batch-id-pruned) and both pinned snapshots are read at those
 *     keys: bounded key sets (≤ `keyLookupMax`) take the
 *     [[LakeTable.readKeys]] point-lookup path (manifest bucket
 *     pruning + pushed `In` + row-group skipping on the doc_id-sorted
 *     files); unbounded sets stay distributed and ride a
 *     bucket-set-pruned join. Exact for every case the pure-feed path
 *     handles, at the cost of two table reads per sync.
 *
 * Store (the fix for the round-4 caveats — single-task publish, reader
 * heal race, missing fence): the aggregate lives under `aggDir` as a
 * MANIFEST-VERSIONED bucketed parquet store:
 *
 *   - state rows are hash-bucketed by `pb = pmod(hash(grp),
 *     stateBuckets)` and written under `data-<uuid>/pb=<j>/`; a sync
 *     rewrites ONLY the buckets containing changed groups (the lake
 *     table's own bucket-COW discipline, one level down) and the new
 *     manifest maps unchanged buckets to their existing data dirs —
 *     a high-cardinality view no longer funnels through one task.
 *   - `manifest-v<N>.json` is published with [[Commit.publish]] at
 *     exactly one past the manifest version the sync read: concurrent
 *     syncs race to the same version and exactly one wins — the loser
 *     deletes its data dir and throws LOUDLY ("publish race"), so a
 *     stale sync can never publish over state it did not read.
 *     Readers list manifests and serve the max version; they never
 *     rename anything. Crash debris (a data dir whose manifest never
 *     landed) is invisible and swept by the next successful publish.
 *   - reader window: the sweep after a publish keeps the new and the
 *     previous manifest and their data dirs, nothing older. A reader
 *     that resolved manifest v−2 can lose its data dirs to two fast
 *     syncs; it should re-resolve (read the latest manifest again) on
 *     a missing dir.
 *   - an optional [[WriterLease]] threads through like every other
 *     mutable store (entry + pre-publish checks); the CAS alone
 *     already excludes silent interleaving, the lease turns a zombie
 *     writer's wasted work into a loud early abort.
 *
 * Exactness including SQL null semantics: the store keeps
 * (cnt, nnz, sum0) per group — row count, count of non-null summed
 * values, and the null-coalesced sum — and renders
 * `sum_val = CASE WHEN nnz = 0 THEN NULL ELSE sum0 END`, so a group
 * whose summed values are all null serves NULL exactly like the direct
 * aggregate, on both the init and every incremental path (the round-4
 * store represented this case differently per path).
 *
 * Contracts: the table must be replayed with `changelog=true` (a
 * sync raises the feed's curated no-changelog error otherwise; the fast path
 * additionally needs `preimages=true` over the whole unsynced range —
 * mixed ranges fall back automatically), and syncs must happen within
 * the feed's retention window (`changelogRetainBatches` vacuum) — the
 * standard CDC-consumer lag contract; past it, drop the store and
 * re-init. `grp` may be null-valued (null-safe merge join); `sumCol`
 * is any SQL expression castable to long over the table's columns.
 *
 * Reference analog: DataX has no incremental consumers — each job is a
 * full copy; this is what its users script around with `where`
 * windows (`mysqlreader/doc/mysqlreader.md` querySql incremental
 * pattern), done exactly instead. The pre-image rows themselves are
 * the engine-side rendering of otsstreamreader's multi-version cell
 * replay (`MultiVerModeRecordSender.java:40-133`).
 */
object Ivm {

  /** `manifestVersion` is the manifest this was read from; the next
    * publish claims exactly `manifestVersion + 1`. */
  private case class Meta(manifestVersion: Long, version: Long, batchId: Long,
      nb: Int, grpDdl: String, parts: Map[Int, String])

  /** Changed-key count up to which the snapshot-diff fallback collects
    * the key set and takes the readKeys point-lookup path (pushed In +
    * row-group skipping); above it the keys stay distributed and ride
    * a join. */
  val DefaultKeyLookupMax = 65536

  /** Default state-bucket count: the unit of state rewrite per sync.
    * Sized like the lake table's buckets — enough that one sync's
    * changed groups touch a strict subset, few enough that the
    * manifest stays a trivial driver object. */
  val DefaultStateBuckets = 16

  /** Changed-GROUP count up to which a sync's delta lands on the
    * driver (one bounded collect fused with the delta aggregation)
    * and merges as a broadcast side; above it the delta stays
    * distributed. */
  val SmallDeltaMax = 1024

  private def pbCol(grp: Column, nb: Int): Column =
    pmod(hash(grp), lit(nb)).cast("int")

  /** Advance `aggDir` to the table's current snapshot and return the
    * aggregate rows (grp, cnt, sum_val). First call does the one full
    * aggregate (the view's initialization); later calls are
    * incremental; a call with nothing new is a no-op read. */
  def sync(table: LakeTable, aggDir: String,
      grp: String = "source", sumCol: String = "n_tok",
      keyLookupMax: Int = DefaultKeyLookupMax,
      stateBuckets: Int = DefaultStateBuckets,
      lease: Option[WriterLease] = None): DataFrame = {
    val spark = table.spark
    WriterLease.guard(spark, aggDir, lease)
    val cur = table.current
    readMeta(spark, aggDir) match {
      case Some(m) if m.version >= cur.version =>
        readAgg(spark, aggDir)
      case None =>
        val full = contrib(table.read(Some(cur)), grp, sumCol)
          .groupBy(col(grp))
          .agg(sum(col("s")).as("cnt"),
            sum((col("v").isNotNull.cast("long")) * col("s")).as("nnz"),
            coalesce(sum(col("s") * col("v")), lit(0L)).as("sum0"))
        publish(spark, aggDir, full, grp, stateBuckets,
          cur.version, cur.batchId, prev = None, changedPbs = None, lease)
        readAgg(spark, aggDir)
      case Some(m) =>
        val (rows, release) = deltaRows(table, m, cur, grp, sumCol, keyLookupMax)
        try {
          val delta0 = rows
            .groupBy(col(grp))
            .agg(sum(col("s")).as("dcnt"),
              sum((col("v").isNotNull.cast("long")) * col("s")).as("dnnz"),
              coalesce(sum(col("s") * col("v")), lit(0L)).as("dsum"))
            .withColumn("pb", pbCol(col(grp), m.nb))
          // bounded probe: a small per-sync delta (the common case —
          // few groups changed) lands on the driver in the SAME job
          // that aggregates it, giving the changed-bucket set for free
          // and a broadcast-side merge join; a high-cardinality delta
          // stays distributed and pays one extra distinct job for the
          // (≤ m.nb ints) bucket set — the only driver materialization
          val local = delta0.limit(SmallDeltaMax + 1).collect()
          val (delta, changedPbs) =
            if (local.length <= SmallDeltaMax)
              (broadcast(spark.createDataFrame(
                java.util.Arrays.asList(local: _*), delta0.schema)),
                local.map(_.getAs[Int]("pb")).toSet)
            else
              (delta0, delta0.select(col("pb"))
                .distinct().collect().map(_.getInt(0)).toSet)
          if (changedPbs.isEmpty) {
            // no net group change (metadata-only advance, or a range
            // whose changes all lost the merge / cancelled out):
            // nothing to rewrite, just move the watermark forward
            publishMetaOnly(spark, aggDir, m, cur.version, cur.batchId, lease)
          } else {
            val stored = readStateParts(spark, aggDir, m,
              m.parts.keySet.intersect(changedPbs))
            val merged = stored.as("a")
              .join(delta.as("d"), col(s"a.$grp") <=> col(s"d.$grp"), "full_outer")
              .select(
                coalesce(col(s"a.$grp"), col(s"d.$grp")).as(grp),
                (coalesce(col("a.cnt"), lit(0L)) + coalesce(col("d.dcnt"), lit(0L))).as("cnt"),
                (coalesce(col("a.nnz"), lit(0L)) + coalesce(col("d.dnnz"), lit(0L))).as("nnz"),
                (coalesce(col("a.sum0"), lit(0L)) + coalesce(col("d.dsum"), lit(0L))).as("sum0"))
              .filter(col("cnt") > 0)
            publish(spark, aggDir, merged, grp, m.nb,
              cur.version, cur.batchId, prev = Some(m), changedPbs = Some(changedPbs), lease)
          }
        } finally release()
        readAgg(spark, aggDir)
    }
  }

  /** Signed per-row contributions (grp, s, v) of the unsynced range —
    * pure-feed when the delta feed covers it, snapshot-diff otherwise
    * — plus a release hook for the fallback's persisted key set. A
    * feed hole past the retention cutoff behaves identically on both
    * paths (silent miss — the documented consumer-lag contract), so
    * coverage is exactly [[LakeTable.deltaFeedCovers]]'s metadata
    * test: delta feed sets for the same batch ids the main feed has. */
  private def deltaRows(table: LakeTable, m: Meta, cur: LakeTable.Snapshot,
      grp: String, sumCol: String, keyLookupMax: Int): (DataFrame, () => Unit) = {
    // every feed read is fenced at the pinned `cur`: a batch committed
    // mid-sync is past the watermark this sync publishes, so it must
    // wait for the next sync, not be counted now and again then
    table.requireChangelog()
    if (table.deltaFeedCovers(m.batchId, cur.batchId)) {
      // ---- FAST PATH: one aggregation of the signed feed rows; ZERO
      //      table reads. `sign` IS the contribution sign.
      (table.readDeltaChanges(m.batchId, cur.batchId)
        .select(col(grp), col("sign").cast("long").as("s"),
          expr(sumCol).cast("long").as("v")), () => ())
    } else {
      // ---- FALLBACK: changed keys from the main feed, both pinned
      //      snapshots read at those keys (point-lookup or join regime)
      val feedIds = table.readChanges(m.batchId, cur.batchId)
      val oldSnap = table.snapshotAt(m.version)
      // persisted: consumed by the bucket-set probe + two joins
      val changed = feedIds.select(col("doc_id")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val localKeys = changed.limit(keyLookupMax + 1).collect().map(_.get(0))
      def rowsAt(s: LakeTable.Snapshot, sign: Long): DataFrame = {
        val rows = if (localKeys.length <= keyLookupMax) {
          if (localKeys.isEmpty) table.read(Some(s)).limit(0)
          else table.readKeys(localKeys.toIndexedSeq, Some(s))
        } else {
          val bs = changed
            .select(LakeTable.bucketExpr(col("doc_id"), s.nBuckets).as("b"))
            .distinct().collect().map(_.getInt(0)).toSet
          if (bs.isEmpty)
            table.read(Some(s)).limit(0)
          else
            table.readResolved(Some(bs), Some(s))
              .filter(!col(LakeTable.DeletedCol))
              .join(changed, Seq("doc_id"))
        }
        contrib(rows, grp, sumCol, sign)
      }
      (rowsAt(cur, 1L).unionByName(rowsAt(oldSnap, -1L)), () => { changed.unpersist(); () })
    }
  }

  /** Per-row contribution: group value, sign, summed value. `sumCol`
    * is any SQL EXPRESSION castable to long — a plain column
    * (`"n_tok"`) or a computation over wide payload columns
    * (`"aggregate(tokens, 0L, (a, x) -> a + x)"`); the expression is
    * evaluated identically at both pinned snapshots, so the delta
    * algebra is unchanged. */
  private def contrib(rows: DataFrame, grp: String, sumCol: String,
      sign: Long = 1L): DataFrame =
    rows.select(col(grp), lit(sign).as("s"), expr(sumCol).cast("long").as("v"))

  /** The maintained aggregate (grp, cnt, sum_val) as last published.
    * `sum_val` is NULL for a group whose summed values were all null —
    * exactly the direct aggregate's SQL semantics. */
  def readAgg(spark: SparkSession, aggDir: String): DataFrame = {
    val m = readMeta(spark, aggDir).getOrElse(
      throw new IllegalStateException(s"no IVM state under $aggDir — run sync first"))
    val state = readStateParts(spark, aggDir, m, m.parts.keySet)
    state.select(col(state.columns(0)), col("cnt"),
        when(col("nnz") === 0, lit(null).cast("long"))
          .otherwise(col("sum0")).as("sum_val"))
  }

  /** The batch id the store is synced through (-1 = never synced) —
    * what a monitoring job compares against `table.current.batchId`
    * to measure consumer lag. Read-only: never mutates the store, so
    * it is safe to call concurrently with a running sync. */
  def syncedBatchId(spark: SparkSession, aggDir: String): Long =
    readMeta(spark, aggDir).map(_.batchId).getOrElse(-1L)

  /** Test hook: the current manifest's pb -> data-dir mapping (which
    * state buckets each sync actually rewrote). */
  private[graft] def manifestParts(spark: SparkSession, aggDir: String): Map[Int, String] =
    readMeta(spark, aggDir).map(_.parts).getOrElse(Map.empty)

  // ----------------------------------------------------------- store I/O

  private val ManifestRe = """manifest-v(\d+)\.json""".r

  private def manifestPath(aggDir: String, v: Long): Path =
    new Path(aggDir, f"manifest-v$v%08d.json")

  /** The latest manifest, None for a fresh store. A round-4 store
    * (`state/_meta.json`, no manifests) fails loudly instead of being
    * silently re-initialised over its leftover `state/` dir. */
  private def readMeta(spark: SparkSession, aggDir: String): Option[Meta] = {
    val fs = new Path(aggDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mv = Commit.versions(fs, new Path(aggDir), ManifestRe).lastOption.getOrElse {
      if (fs.exists(new Path(aggDir, "state/_meta.json")))
        throw new IllegalStateException(s"$aggDir holds a legacy IVM store (state/_meta.json, " +
          "no manifest) that this build does not read: drop the directory and re-init with sync")
      return None
    }
    val in = fs.open(manifestPath(aggDir, mv))
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val j = org.json4s.jackson.JsonMethods.parse(txt)
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    Some(Meta(mv,
      (j \ "version").extract[Long],
      (j \ "batchId").extract[Long],
      (j \ "nb").extract[Int],
      (j \ "grpDdl").extract[String],
      (j \ "parts").extract[Map[String, String]].map { case (k, v) => k.toInt -> v }))
  }

  /** State rows (grp, cnt, nnz, sum0) of the given buckets: ONE scan
    * of the `pb=<j>` dirs the manifest maps them to, with the explicit
    * state schema (no footer-inference job). Each dir holds exactly
    * its bucket's rows, so the path list is the bucket filter, and `pb`
    * itself (a directory name, not a file column) is not read. */
  private def readStateParts(spark: SparkSession, aggDir: String, m: Meta,
      pbs: Set[Int]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      s"${m.grpDdl}, cnt BIGINT, nnz BIGINT, sum0 BIGINT")
    val dirs = m.parts.toSeq.filter { case (pb, _) => pbs(pb) }.sorted
      .map { case (pb, dir) => s"$aggDir/$dir/pb=$pb" }
    if (dirs.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(dirs: _*)
  }

  /** Write the given state rows (all buckets on init, changed buckets
    * on sync) into a fresh `data-<uuid>` dir, one `pb=<j>/` subdir per
    * bucket, in one task-side write job ([[TaskWriter]]), then
    * CAS-publish the next manifest mapping changed buckets to the new
    * dir and unchanged buckets to their existing dirs. On a CAS loss
    * the new data dir is deleted and the loser throws. After a win,
    * superseded manifests and unreferenced data dirs are swept. */
  private def publish(spark: SparkSession, aggDir: String, rows: DataFrame,
      grp: String, nb: Int, version: Long, batchId: Long,
      prev: Option[Meta], changedPbs: Option[Set[Int]],
      lease: Option[WriterLease]): Unit = {
    val fs = new Path(aggDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirName = s"data-${java.util.UUID.randomUUID().toString.take(8)}"
    val grpDdl = prev.map(_.grpDdl).getOrElse {
      val f = rows.schema.fields.find(_.name == grp).get
      s"`${f.name}` ${f.dataType.sql}"
    }
    val nextV = prev.fold(0L)(_.manifestVersion) + 1L
    val parts = try {
      val dir = s"$aggDir/$dirName"
      val tagged = rows.select(lit(0).as("kind"), pbCol(col(grp), nb).as("bucket"),
        col(grp).as("key"), struct(rows.columns.toIndexedSeq.map(col): _*))
      // which buckets actually hold rows now (a changed bucket whose
      // groups all went extinct writes no file and leaves the manifest);
      // a bucket's dir is read whole, so a failed task attempt's files
      // must not stay in it
      val written = TaskWriter.write(tagged.repartition(col("bucket")),
        IndexedSeq(TaskWriter.Out(dir, LakeTable.asNullable(rows.schema), bucketDir = Some("pb"))))
        .groupBy(_.bucket)
      written.foreach { case (pb, ws) =>
        TaskWriter.keepOnlyReported(spark.sparkContext.hadoopConfiguration, s"$dir/pb=$pb", ws)
      }
      val parts = prev match {
        case None => written.keySet.map(_ -> dirName).toMap
        case Some(p) =>
          (p.parts -- changedPbs.getOrElse(Set.empty)) ++ written.keySet.map(_ -> dirName).toMap
      }
      WriterLease.guard(spark, aggDir, lease) // pre-publish fence re-check
      casWrite(spark, aggDir, nextV, manifestJson(version, batchId, nb, grpDdl, parts))
      parts
    } catch { case e: Exception if fs.exists(manifestPath(aggDir, nextV)) =>
      // lost the race to nextV — at the CAS, or before it when the
      // winner's sweep removed this sync's half-written data dir:
      // reclaim the dir (it would leak) and report the race
      fs.delete(new Path(aggDir, dirName), true)
      throw publishRace(aggDir, nextV, e)
    }
    sweep(fs, aggDir, nextV, (parts.values ++ prev.toSeq.flatMap(_.parts.values)).toSet)
  }

  /** Metadata-only advance: same CAS, previous parts carried over. */
  private def publishMetaOnly(spark: SparkSession, aggDir: String, m: Meta,
      version: Long, batchId: Long, lease: Option[WriterLease]): Unit = {
    val fs = new Path(aggDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    WriterLease.guard(spark, aggDir, lease)
    val nextV = m.manifestVersion + 1L
    casWrite(spark, aggDir, nextV, manifestJson(version, batchId, m.nb, m.grpDdl, m.parts))
    sweep(fs, aggDir, nextV, m.parts.values.toSet)
  }

  private def manifestJson(version: Long, batchId: Long, nb: Int,
      grpDdl: String, parts: Map[Int, String]): String = {
    import org.json4s.JsonDSL._
    org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
      ("version" -> version) ~ ("batchId" -> batchId) ~ ("nb" -> nb) ~
        ("grpDdl" -> grpDdl) ~
        ("parts" -> parts.map { case (k, v) => k.toString -> v })))
  }

  /** The version-CAS: publish manifest `v` exclusively — of any number
    * of publishers racing to `v` exactly one wins; the losers throw
    * LOUDLY and never clobber. */
  private[graft] def casWrite(spark: SparkSession, aggDir: String, v: Long,
      body: String): Unit = {
    val fs = new Path(aggDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!Commit.publish(fs, manifestPath(aggDir, v), body.getBytes("UTF-8")))
      throw publishRace(aggDir, v, null)
  }

  private def publishRace(aggDir: String, v: Long, cause: Throwable) = new IllegalStateException(
    s"ivm publish race on $aggDir v$v (concurrent sync advanced the store)", cause)

  /** After a successful publish of `keepV`: drop manifests older than
    * the previous one (kept for a reader that resolved it just before
    * the CAS) and data dirs not in `keep`, the dirs of both retained
    * manifests (the publisher read the previous one: it CASed at
    * exactly its version + 1) — crash debris and superseded buckets. */
  private def sweep(fs: org.apache.hadoop.fs.FileSystem, aggDir: String,
      keepV: Long, keep: Set[String]): Unit =
    fs.listStatus(new Path(aggDir)).foreach { st =>
      val n = st.getPath.getName
      n match {
        case ManifestRe(v) if v.toLong < keepV - 1 => fs.delete(st.getPath, false)
        case _ if n.startsWith("data-") && !keep(n) => fs.delete(st.getPath, true)
        case _ => ()
      }
    }
}
