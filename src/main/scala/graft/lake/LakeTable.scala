package graft.lake

import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * LakeTable — an Iceberg-v2-*semantics* snapshot table format on Parquet.
 *
 * No Iceberg/Delta/Hudi jar ships in this environment, so the table
 * format is implemented from scratch, but deliberately tiny:
 *
 *   root/
 *     snapshots/v00000001.json   -- immutable snapshot descriptors
 *     manifests/m-<uuid>.json    -- immutable per-commit delta manifests
 *     data/c-<uuid>/bucket=K/<uuid>.parquet
 *     changelog/c-<uuid>/<uuid>.parquet        -- change-feed files (opt-in)
 *     changelog_delta/c-<uuid>/<uuid>.parquet  -- pre-image feed files (opt-in)
 *
 * A snapshot records: schema history (schema-id chain, additive
 * evolution only), an ORDERED MANIFEST LIST (each manifest is one
 * commit's delta: the data files it added, with bucket + row count +
 * lsn min/max stats, the bucket set it replaced, and the feed sets it
 * recorded — see [[LakeTable.FeedSet]]), a summary (last
 * applied streaming batch-id, per-shard lsn high-watermarks) and
 * per-partition lineage entries (source offset range -> this snapshot
 * id). The live file set is the left fold of the manifest list: drop
 * files in a manifest's replaced buckets, append its added files —
 * so COMMIT METADATA COST IS O(batch files), not O(table files): a
 * micro-batch writes one delta manifest listing only its own files and
 * a descriptor holding a few manifest path strings (the Iceberg
 * manifest-list pattern). Once the list exceeds
 * [[LakeTable.CompactManifestsAt]] entries, the commit folds it into
 * ONE consolidated manifest — amortized O(table files /
 * CompactManifestsAt) per commit, and the descriptor stays bounded.
 *
 * Commit protocol: data files, feed files and the delta manifest land
 * under fresh names first; the commit point is publishing descriptor
 * `v<N+1>` with [[Commit.publish]] (temp file, then one exclusive link
 * or rename —
 * the reference's temp-then-rename output, DataX
 * `hdfswriter/.../HdfsWriter.java:193-194` + `HdfsHelper.renameFile:207-233`,
 * made exclusive). Readers list `snapshots/` and take the max version,
 * so a crash mid-commit leaves only ignored `.tmp` files and orphan data
 * and feed files (cleaned by `vacuum()`); of any number of committers
 * racing to the same version exactly one wins, the rest fail loudly. A
 * batch's feed rows are therefore visible exactly when its data is.
 *
 * Row-level upserts/deletes are copy-on-write at hash-bucket granularity:
 * the table is bucketed by `pmod(xxhash64(doc_id), nBuckets)`; a MERGE
 * rewrites only touched buckets (see [[graft.apply.BatchApply]]). Deletes
 * are retained as `_deleted` tombstones carrying their lsn, which makes
 * applying a batch idempotent and order-insensitive (a late lower-lsn
 * change can never overwrite a newer state); `compact()` purges
 * tombstones once they are no longer needed for fencing.
 *
 * Scale notes: nBuckets is the write-amplification knob — at 100 TB you
 * raise it (2^12..2^16) so a micro-batch touches a small fraction of
 * files and each rewrite fits an executor. All bucket pruning happens on
 * the driver against the manifest (thousands of entries, not data).
 */
object LakeTable {

  /** System columns appended to the user schema on every data file. */
  val LsnCol = "_lsn"
  val DeletedCol = "_deleted"

  /** Table-format identity stamped into every snapshot descriptor.
    * Version 4 = manifests carry the feed sets (a version-3 build would
    * read such a table's feeds as empty); version 3 = manifest-list
    * descriptors; version 2 = inline file
    * lists (still readable — the data layout and bucket function are
    * unchanged, so a v2 table loads as legacy and upgrades itself on
    * its next commit). Snapshots written before stamping existed parse
    * with ABSENT fields: those are treated as the known v1-compatible
    * format (same bucket fn since v1), per the upgrade policy — the
    * hard failure is reserved for a DECLARED bucketFn that differs,
    * because a table bucketed by a different hash silently mis-buckets
    * (merges read the wrong base files, compact() rewrites the wrong
    * buckets). */
  val FormatVersion = 4
  val BucketFn = "murmur3_pmod" // Spark hash() = Murmur3_x86_32 seed 42, pmod nBuckets

  /** Manifest-list length that triggers consolidation at commit. */
  val CompactManifestsAt = 16

  /** Subdirectory holding the opt-in change-data feed's files: the
    * canonical per-key changes of each applied batch (see
    * [[graft.apply.BatchApply]] `changelog`), listed by the snapshot's
    * [[FeedSet]]s of this kind. */
  val ChangelogDir = "changelog"

  /** Subdirectory holding the opt-in PRE-IMAGE DELTA feed's files
    * (written only with `changelog = true, preimages = true` — see
    * [[graft.apply.BatchApply]]): signed state-change rows that make a
    * downstream aggregate's delta computable from the feed ALONE
    * (sign=-1 carries the pre-image of a row an applied change
    * replaced or deleted, sign=+1 the post-image it installed; a
    * change that LOSES the lsn merge emits neither). This is the
    * Debezium `before`/`after` envelope pair and Delta CDF's
    * `update_preimage`/`update_postimage` rows, rendered as signed
    * rows — the reference's own analog is otsstreamreader's
    * multi-version cell rendering (`MultiVerModeRecordSender.java:
    * 40-133`), which likewise replays old cell values. */
  val DeltaFeedDir = "changelog_delta"

  /** Schema of [[LakeTable.readChanges]] rows for a table whose user
    * schema is `user`: the key, `op`, `lsn`, every other user column at
    * the table's type, `shard`, and `batch_id`, last. */
  def changeFeedSchema(user: StructType): StructType =
    feedSchema(user, Seq(StructField("op", StringType), StructField("lsn", LongType)),
      Seq(StructField("shard", IntegerType)))

  /** Schema of [[LakeTable.readDeltaChanges]] rows: the key, a signed
    * contribution marker, `lsn`, every other user column, `batch_id`. */
  def deltaFeedSchema(user: StructType): StructType =
    feedSchema(user, Seq(StructField("sign", IntegerType), StructField("lsn", LongType)), Nil)

  /** Feed file and read schemas are one: `batch_id` is a data column of
    * every feed file, and every field is nullable. A file is read at
    * the schema of the table version that wrote it, then aligned to the
    * current one, like a data file. */
  private def feedSchema(user: StructType, head: Seq[StructField], tail: Seq[StructField]): StructType = {
    val (key, payload) = user.fields.toSeq.partition(_.name == "doc_id")
    asNullable(StructType((key ++ head ++ payload ++ tail) :+ StructField("batch_id", IntegerType)))
  }

  private def feedSchemaOf(kind: String): StructType => StructType =
    if (kind == ChangelogDir) changeFeedSchema else deltaFeedSchema

  /** `delta=true` marks a merge-on-read file: its rows OVERLAY the
    * bucket's base rows, resolved at read time by max `_lsn` per key
    * (Iceberg-v2 positional-delete analog expressed as upsert rows). */
  final case class DataFile(path: String, bucket: Int, rows: Long, minLsn: Long, maxLsn: Long,
      schemaId: Int, delta: Boolean = false)

  final case class LineageEntry(batchId: Long, shard: Int, minLsn: Long, maxLsn: Long, rows: Long)

  /** The feed files one commit recorded: `kind` is the feed's dir
    * ([[ChangelogDir]] or [[DeltaFeedDir]]), and `files` hold the rows
    * of batches `fromBatch..toBatch` — one applied batch, or a range
    * [[LakeTable.compactChangelog]] merged — written at `schemaId`. A
    * set with no files still records that the batch's feed was on. */
  final case class FeedSet(kind: String, fromBatch: Long, toBatch: Long, schemaId: Int,
      files: Seq[String])

  final case class Snapshot(
      version: Long,
      parent: Long, // -1 for first
      schemaId: Int,
      schemas: Map[Int, StructType], // user schemas by id
      nBuckets: Int,
      files: Seq[DataFile], // folded live file set (in-memory; not serialized in v3)
      batchId: Long, // last applied streaming batch id (-1 = none)
      watermarks: Map[Int, Long], // shard -> max applied lsn
      lineage: Seq[LineageEntry], // offset ranges this snapshot applied
      manifests: Seq[String] = Nil, // ordered delta-manifest paths (v3)
      feeds: Seq[FeedSet] = Nil) { // live feed sets (folded from the manifests)

    def schema: StructType = schemas(schemaId)

    /** physical schema = user schema + system columns */
    def physicalSchema(id: Int): StructType =
      StructType(schemas(id).fields :+
        StructField(LsnCol, LongType, nullable = false) :+
        StructField(DeletedCol, BooleanType, nullable = false))
  }

  /** Bucket of a key: `pmod(murmur3(doc_id), nBuckets)` — deliberately
    * the SAME function Spark's HashPartitioning uses for shuffle
    * partition ids (`hash()` = Murmur3, seed 42). Consequence: any
    * exchange keyed on doc_id with numPartitions == nBuckets lands each
    * bucket wholly inside one task, so the MERGE output can be written
    * per-bucket without a further repartition (see
    * [[graft.apply.BatchApply]]). */
  def bucketExpr(docId: org.apache.spark.sql.Column, nBuckets: Int): org.apache.spark.sql.Column =
    pmod(hash(docId), lit(nBuckets)).cast("int")

  /** [[bucketExpr]] of one Catalyst value of type `t`, as interpreted
    * expressions: no job and no generated class, on the driver or in a
    * task. */
  private[graft] def bucketOfValue(t: DataType, nBuckets: Int): Any => Int = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, Murmur3Hash, Pmod}
    val e = Pmod(new Murmur3Hash(Seq(BoundReference(0, t, nullable = true))), Literal(nBuckets))
    v => e.eval(InternalRow(v)).asInstanceOf[Int]
  }

  /** Auto-pick a bucket count from table size: smallest power of two
    * with at most `targetRowsPerBucket` rows per bucket, clamped to
    * [minBuckets, maxBuckets]. The bucket is the COW/merge work unit,
    * so the target bounds (a) the rewrite cost a one-row change can
    * incur and (b) the per-task memory of the merge join; the default
    * 2M rows ≈ 100-400 MB of tokenized-doc parquet — a comfortable
    * single-task unit. Powers of two keep rebucketing halving/doubling
    * -shaped and make `shuffle.partitions == nBuckets` (the write-side
    * shuffle-elision alignment) a round number. At the 10^10-row north
    * scale this lands at 2^13 buckets; maxBuckets=2^16 matches the
    * design ceiling in the class doc. Callers: pass the LIVE row count
    * (tombstones included is fine — they are rows the merge reads).
    *
    * `parallelism` (pass the cluster's total core count) adds a floor of
    * 2×cores: the bucket count caps apply/write parallelism, and the
    * measured bucket ladder (BASELINE.md — 10^8-event soak, 25M rows,
    * 32 cores) shows the row target alone is catastrophic when it lands
    * below the core count: 16 buckets ran 5.5× slower than 64 (=2×cores,
    * the knee), while oversizing to 256 cost 2.4× in per-batch file
    * overhead — so the floor is 2×, not more. */
  def suggestBuckets(liveRows: Long, targetRowsPerBucket: Long = 2000000L,
      minBuckets: Int = 16, maxBuckets: Int = 1 << 16, parallelism: Int = 0): Int = {
    require(targetRowsPerBucket > 0, s"targetRowsPerBucket=$targetRowsPerBucket")
    require(minBuckets >= 1 && maxBuckets >= minBuckets, s"[$minBuckets,$maxBuckets]")
    val byRows = math.max(1L, (math.max(0L, liveRows) + targetRowsPerBucket - 1) / targetRowsPerBucket)
    val needed = math.max(byRows, 2L * math.max(0, parallelism))
    var p = 1L
    while (p < needed && p < maxBuckets) p <<= 1
    math.min(maxBuckets.toLong, math.max(minBuckets.toLong, p)).toInt
  }

  // ---------------------------------------------------------------- json

  private def fileToJson(f: DataFile): JValue = JObject(
    "path" -> JString(f.path), "bucket" -> JInt(f.bucket), "rows" -> JLong(f.rows),
    "minLsn" -> JLong(f.minLsn), "maxLsn" -> JLong(f.maxLsn), "schemaId" -> JInt(f.schemaId),
    "delta" -> JBool(f.delta))

  private def fileFromJson(f: JValue): DataFile = {
    implicit val fmts: Formats = DefaultFormats
    DataFile((f \ "path").extract[String], (f \ "bucket").extract[Int],
      (f \ "rows").extract[Long], (f \ "minLsn").extract[Long], (f \ "maxLsn").extract[Long],
      (f \ "schemaId").extract[Int],
      delta = (f \ "delta") match { case JBool(b) => b; case _ => false })
  }

  /** One commit's delta: files it added, buckets it replaced and feed
    * sets it added. The live file set of a snapshot is the in-order
    * fold of its manifests; its feed sets are their concatenation (a
    * commit that drops feed sets writes one consolidated manifest). */
  private[lake] final case class Manifest(added: Seq[DataFile], replacedBuckets: Set[Int],
      feeds: Seq[FeedSet] = Nil)

  private[lake] def manifestToJson(m: Manifest): JValue = JObject(
    "added" -> JArray(m.added.toList.map(fileToJson)),
    "replacedBuckets" -> JArray(m.replacedBuckets.toList.sorted.map(b => JInt(b))),
    "feeds" -> JArray(m.feeds.toList.map(f => JObject(
      "kind" -> JString(f.kind), "fromBatch" -> JLong(f.fromBatch), "toBatch" -> JLong(f.toBatch),
      "schemaId" -> JInt(f.schemaId), "files" -> JArray(f.files.toList.map(JString(_)))))))

  private[lake] def manifestFromJson(j: JValue): Manifest = {
    implicit val fmts: Formats = DefaultFormats
    Manifest(
      (j \ "added").asInstanceOf[JArray].arr.map(fileFromJson),
      (j \ "replacedBuckets").asInstanceOf[JArray].arr.map(_.extract[Int]).toSet,
      (j \ "feeds") match {
        case JArray(fs) => fs.map(f => FeedSet((f \ "kind").extract[String],
          (f \ "fromBatch").extract[Long], (f \ "toBatch").extract[Long],
          (f \ "schemaId").extract[Int], (f \ "files").extract[List[String]]))
        case _ => Nil
      })
  }

  private[lake] def foldManifests(ms: Seq[Manifest]): Seq[DataFile] =
    ms.foldLeft(Seq.empty[DataFile]) { (files, m) =>
      files.filterNot(f => m.replacedBuckets.contains(f.bucket)) ++ m.added
    }

  private def snapToJson(s: Snapshot): JValue = JObject(
    "formatVersion" -> JInt(FormatVersion),
    "bucketFn" -> JString(BucketFn),
    "version" -> JLong(s.version),
    "parent" -> JLong(s.parent),
    "schemaId" -> JInt(s.schemaId),
    "schemas" -> JArray(s.schemas.toList.sortBy(_._1).map { case (id, st) =>
      JObject("id" -> JInt(id), "struct" -> JsonMethods.parse(st.json))
    }),
    "nBuckets" -> JInt(s.nBuckets),
    "manifests" -> JArray(s.manifests.toList.map(JString(_))),
    "batchId" -> JLong(s.batchId),
    "watermarks" -> JObject(s.watermarks.toList.sortBy(_._1).map { case (k, v) => k.toString -> JLong(v) }),
    "lineage" -> JArray(s.lineage.toList.map(l => JObject(
      "batchId" -> JLong(l.batchId), "shard" -> JInt(l.shard),
      "minLsn" -> JLong(l.minLsn), "maxLsn" -> JLong(l.maxLsn), "rows" -> JLong(l.rows)))))

  /** Parse a descriptor. `files` holds inline legacy (v2/pre-stamp)
    * entries; for v3 descriptors it is empty until [[LakeTable
    * .snapshotAt]] folds the manifest list. Absent format fields are
    * the known v1-compatible legacy (the bucket fn never changed);
    * only a DECLARED mismatch fails. */
  private def snapFromJson(j: JValue): Snapshot = {
    implicit val fmts: Formats = DefaultFormats
    def l(v: JValue): Long = v.extract[Long]
    def i(v: JValue): Int = v.extract[Int]
    val fv = (j \ "formatVersion") match { case JInt(v) => v.toInt; case _ => 1 }
    val bf = (j \ "bucketFn") match { case JString(s) => s; case _ => BucketFn }
    require(fv <= FormatVersion && bf == BucketFn,
      s"table format mismatch: snapshot declares formatVersion=$fv bucketFn=$bf but this " +
        s"build reads formatVersion<=$FormatVersion bucketFn=$BucketFn — refusing to mis-bucket")
    Snapshot(
      version = l(j \ "version"),
      parent = l(j \ "parent"),
      schemaId = i(j \ "schemaId"),
      schemas = (j \ "schemas").asInstanceOf[JArray].arr.map { s =>
        i(s \ "id") -> DataType.fromJson(JsonMethods.compact(s \ "struct")).asInstanceOf[StructType]
      }.toMap,
      nBuckets = i(j \ "nBuckets"),
      files = (j \ "files") match {
        case JArray(fs) => fs.map(fileFromJson) // legacy inline list
        case _ => Nil
      },
      batchId = l(j \ "batchId"),
      watermarks = (j \ "watermarks").asInstanceOf[JObject].obj.map { case (k, v) => k.toInt -> l(v) }.toMap,
      lineage = (j \ "lineage").asInstanceOf[JArray].arr.map { e =>
        LineageEntry(l(e \ "batchId"), i(e \ "shard"), l(e \ "minLsn"), l(e \ "maxLsn"), l(e \ "rows"))
      },
      manifests = (j \ "manifests") match {
        case JArray(ms) => ms.collect { case JString(p) => p }
        case _ => Nil
      })
  }

  // ------------------------------------------------------------- create

  def create(spark: SparkSession, root: String, userSchema: StructType, nBuckets: Int): LakeTable = {
    val t = new LakeTable(spark, root)
    t.fs.mkdirs(new Path(root, "snapshots"))
    t.fs.mkdirs(new Path(root, "manifests"))
    t.fs.mkdirs(new Path(root, "data"))
    val s0 = Snapshot(0L, -1L, 0, Map(0 -> userSchema), nBuckets, Nil, -1L, Map.empty, Nil)
    t.writeSnapshot(s0)
    t
  }

  def load(spark: SparkSession, root: String): LakeTable = new LakeTable(spark, root)

  /** `t` with every field, array element and map value nullable: the
    * file schema of a task-side write, so a row whose columns are
    * nullable-typed always casts to it. */
  private[graft] def asNullable(t: StructType): StructType = {
    def go(d: DataType): DataType = d match {
      case StructType(fs) => StructType(fs.map(f => f.copy(dataType = go(f.dataType), nullable = true)))
      case ArrayType(e, _) => ArrayType(go(e), containsNull = true)
      case MapType(k, v, _) => MapType(go(k), go(v), valueContainsNull = true)
      case other => other
    }
    go(t).asInstanceOf[StructType]
  }

  private val SnapshotRe = """v(\d+)\.json""".r

  def exists(spark: SparkSession, root: String): Boolean = {
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    Commit.versions(fs, new Path(root, "snapshots"), SnapshotRe).nonEmpty
  }
}

class LakeTable(val spark: SparkSession, val root: String) {
  import LakeTable._

  private[lake] val fs: FileSystem =
    FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
  private val snapDir = new Path(root, "snapshots")

  // ------------------------------------------------------------ snapshots

  /** Current snapshot = max committed version (readers never see partial
    * state: the descriptor publish is the commit point). */
  def current: Snapshot = snapshotAt(currentVersion)

  def currentVersion: Long = listVersions.max

  def listVersions: Seq[Long] = {
    val vs = Commit.versions(fs, snapDir, SnapshotRe)
    if (vs.isEmpty) throw new IllegalStateException(s"no snapshots under $root")
    vs
  }

  /** Snapshots are immutable, so loaded ones are cached (bounded): the
    * streaming replay asks for `current` several times per micro-batch
    * and should not re-read descriptor + manifests each time. */
  private val snapCache = new java.util.concurrent.ConcurrentHashMap[Long, Snapshot]()

  /** Every cache insert — read-path AND commit-path — goes through the
    * same bounded put: a long-lived streaming writer commits one
    * snapshot per micro-batch and each Snapshot holds the table's full
    * folded file list, so an unbounded cache is a driver-heap leak
    * over a multi-day run. */
  private def cachePut(v: Long, snap: Snapshot): Snapshot = {
    if (snapCache.size > 8) snapCache.clear()
    snapCache.put(v, snap)
    snap
  }

  def snapshotAt(v: Long): Snapshot = {
    val hit = snapCache.get(v)
    if (hit != null) return hit
    val in = fs.open(new Path(snapDir, f"v$v%08d.json"))
    val parsed = try snapFromJson(JsonMethods.parse(in)) finally in.close()
    // v3 descriptors carry a manifest list; fold it into the live file
    // set (v2/legacy descriptors carried the files inline)
    val snap =
      if (parsed.manifests.isEmpty) parsed
      else {
        val ms = parsed.manifests.map(readManifest)
        parsed.copy(files = foldManifests(ms), feeds = ms.flatMap(_.feeds))
      }
    cachePut(v, snap)
  }

  private def readManifest(rel: String): Manifest = {
    val in = fs.open(new Path(root, rel))
    try manifestFromJson(JsonMethods.parse(in)) finally in.close()
  }

  /** Write one immutable delta manifest; returns its root-relative
    * path. Not yet referenced — the descriptor commit publishes it (an
    * orphan from a lost commit race is vacuumed). */
  private def writeManifest(m: Manifest): String = {
    val rel = s"manifests/m-${UUID.randomUUID()}.json"
    val out = Commit.writer(fs).create(new Path(root, rel))
    try out.write(JsonMethods.pretty(manifestToJson(m)).getBytes("UTF-8")) finally out.close()
    rel
  }

  private[lake] def writeSnapshot(s: Snapshot): Boolean =
    Commit.publish(fs, new Path(snapDir, f"v${s.version}%08d.json"),
      JsonMethods.pretty(snapToJson(s)).getBytes("UTF-8"))

  // ---------------------------------------------------------------- read

  /** Physical rows (tombstones + system cols included), aligned to the
    * current schema. `buckets=Some(set)` prunes the scan to those buckets
    * using manifest metadata only; the files come from the snapshot,
    * so nothing is listed. */
  def readPhysical(buckets: Option[Set[Int]] = None, snapshot: Option[Snapshot] = None): DataFrame = {
    val s = snapshot.getOrElse(current)
    val files = buckets match {
      case Some(bs) => s.files.filter(f => bs.contains(f.bucket))
      case None => s.files
    }
    val targetPhys = s.physicalSchema(s.schemaId)
    if (files.isEmpty) emptyFrame(targetPhys)
    else {
      // group by schema-id; align older files to the current schema:
      // missing columns -> null, widened columns -> cast (additive only)
      files.groupBy(_.schemaId).toSeq.sortBy(_._1).map { case (sid, fl) =>
        align(scan(s.physicalSchema(sid), fl.map(_.path)), targetPhys)
      }.reduce(_ unionByName _)
    }
  }

  /** A parquet scan of root-relative `paths` at `schema`. */
  private def scan(schema: StructType, paths: Seq[String]): DataFrame =
    SnapshotRead.scan(spark, root, schema, paths.map(status))

  /** File statuses, each taken once: a table's files never change
    * after they are written. Bounded like the snapshot cache. */
  private val statuses = new java.util.concurrent.ConcurrentHashMap[String, FileStatus]()

  private def status(rel: String): FileStatus = {
    if (statuses.size > 100000) statuses.clear()
    statuses.computeIfAbsent(rel, _ => {
      val st = fs.getFileStatus(new Path(root, rel))
      new FileStatus(st.getLen, false, 1, st.getBlockSize, st.getModificationTime, st.getPath)
    })
  }

  private def align(df: DataFrame, target: StructType): DataFrame = {
    val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
    df.select(target.fields.map { f =>
      have.get(f.name) match {
        case Some(src) => SchemaCompat.castTo(col(f.name), src, f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }.toIndexedSeq: _*)
  }

  /** Physical rows RESOLVED to one row per key: where a bucket carries
    * merge-on-read delta files, base and delta rows collapse to the
    * max-`_lsn` winner per doc_id, one task per bucket with no shuffle
    * ([[SnapshotRead.merged]]). Buckets without deltas are plain COW
    * scans ([[readPhysical]]: vectorized, split, filters pushed). */
  def readResolved(buckets: Option[Set[Int]] = None, snapshot: Option[Snapshot] = None): DataFrame = {
    val s = snapshot.getOrElse(current)
    val files = s.files.filter(f => buckets.forall(_.contains(f.bucket)))
    val deltaBuckets = files.filter(_.delta).map(_.bucket).toSet
    if (deltaBuckets.isEmpty) return readPhysical(buckets, Some(s))
    val resolved = SnapshotRead.merged(spark, s,
      files.filter(f => deltaBuckets(f.bucket)).map(f => f -> status(f.path)))
    val plainBuckets = files.map(_.bucket).toSet -- deltaBuckets
    if (plainBuckets.isEmpty) resolved
    else readPhysical(Some(plainBuckets), Some(s)).unionByName(resolved)
  }

  /** User-visible rows: deltas resolved, tombstones filtered, system
    * columns dropped. */
  def read(snapshot: Option[Snapshot] = None): DataFrame =
    readResolved(None, snapshot).filter(!col(DeletedCol)).drop(LsnCol, DeletedCol)

  def read(): DataFrame = read(None)

  /** POINT LOOKUP: the current state of the given keys, scanning ONLY
    * the buckets those keys hash to. Bucket selection is manifest
    * metadata (no file listing, no full scan) and the typed IN filter
    * additionally pushes into the parquet scan for row-group skipping
    * INSIDE each selected bucket — so fetching k keys from a 10^10-row
    * table reads at most k buckets' files, not the table. Each key is
    * cast to the table's exact key type and hashed with the writer's
    * `bucketExpr` on the driver (interpreted expressions: no job, no
    * generated class) — a mistyped literal would hash to the wrong
    * bucket and silently miss, so the cast is the correctness step,
    * not a convenience. */
  def readKeys(keys: Seq[Any], snapshot: Option[Snapshot] = None): DataFrame = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val s = snapshot.getOrElse(current)
    if (keys.isEmpty) return read(Some(s)).limit(0)
    val keyType = s.physicalSchema(s.schemaId)("doc_id").dataType
    val tz = Some(spark.conf.get("spark.sql.session.timeZone"))
    val bucketOf = bucketOfValue(keyType, s.nBuckets)
    val info = keys.map { k =>
      val v = Cast(Literal.create(String.valueOf(k), StringType), keyType, tz).eval()
      (CatalystTypeConverters.convertToScala(v, keyType), bucketOf(v))
    }
    readResolved(Some(info.map(_._2).toSet), Some(s))
      .filter(col("doc_id").isInCollection(info.map(_._1)))
      .filter(!col(DeletedCol)).drop(LsnCol, DeletedCol)
  }

  /** INCREMENTAL STATE EXPORT — rows whose CURRENT version was written
    * at or after `sinceLsn` (the "what changed since my last export"
    * primitive for consumers that want STATE, not the change feed; works
    * on any table, feed enabled or not, because it reads only manifest
    * stats + data files). Zone-map pruning: the manifest's per-file
    * (minLsn, maxLsn) stats — counted by the tasks that wrote the
    * files — bound every file's `_lsn` domain, so a bucket
    * none of whose files reaches `sinceLsn` cannot hold a qualifying
    * current row and is skipped WITHOUT touching storage. A 10^10-row
    * table where the last day touched 2% of buckets exports that day by
    * reading ~2% of its files. Buckets that do qualify are read in
    * full (last-wins resolution needs every version the bucket holds —
    * a file-level cut inside the bucket could crown a stale winner);
    * there the `_lsn >= since` filter still pushes into the parquet
    * scan of buckets without delta files for row-group skipping (a
    * bucket with deltas is resolved first and filtered after). Returns
    * user columns plus `last_lsn` — the per-row high-watermark
    * consumers checkpoint so their next export is
    * `readUpdatedSince(prevMax + 1)`. */
  def readUpdatedSince(sinceLsn: Long, snapshot: Option[Snapshot] = None): DataFrame = {
    val s = snapshot.getOrElse(current)
    val hot = s.files.filter(_.maxLsn >= sinceLsn).map(_.bucket).toSet
    readResolved(Some(hot), Some(s))
      .filter(col(LsnCol) >= sinceLsn && !col(DeletedCol))
      .withColumnRenamed(LsnCol, "last_lsn").drop(DeletedCol)
  }

  /** INCREMENTAL CHANGE READ — the table as a CDC *source* (the Delta
    * CDF / Iceberg incremental-scan analog, and the composability story
    * of the reference's `otsstreamreader`: a downstream job can tail
    * THIS table's changes the way this engine tails its upstream log —
    * [[graft.stream.Replay]] does, given a table root as its input).
    * Returns the canonical per-key changes of every batch in
    * `(sinceBatchId, untilBatchId]`: one row per (batch_id, doc_id)
    * with op I/U/D, lsn, and the payload columns — exactly what
    * [[graft.apply.BatchApply]] merged, so replaying these changes into
    * a second table reproduces the first's state.
    *
    * Requires the feed to have been enabled at write time
    * (`changelog = true` — writing change files costs one extra
    * O(batch) parquet output per commit; diffing COW snapshots after
    * the fact would cost O(table)). The files read are those of the
    * current snapshot's change [[FeedSet]]s in range, chosen from
    * metadata alone: a batch's feed files are recorded by the same
    * commit as its data files, so they are visible exactly when the
    * batch is, and nothing is listed. `untilBatchId` is the upper
    * fence: a consumer pins it from the snapshot it reads against, so
    * a batch committed while it reads is left to its next read. The
    * schema is [[changeFeedSchema]] of the current schema, whether or
    * not any batch is in range. */
  def readChanges(sinceBatchId: Long = -1L,
      untilBatchId: Long = current.batchId): DataFrame = {
    requireChangelog()
    readFeed(current, ChangelogDir, sinceBatchId, untilBatchId)
  }

  /** The curated error for a feed read on a table replayed without
    * `changelog = true`. */
  private[graft] def requireChangelog(): Unit =
    require(current.feeds.exists(_.kind == ChangelogDir) || fs.exists(new Path(root, ChangelogDir)),
      s"no changelog under $root — replay with changelog=true to enable the change feed")

  /** PRE-IMAGE DELTA READ — signed state-change rows of every batch in
    * `(sinceBatchId, untilBatchId]` (see [[LakeTable.DeltaFeedDir]]).
    * The telescoping property that makes this the zero-table-read IVM
    * input: summing a batch's signed rows gives exactly (state after
    * batch) − (state before batch), so summing the range gives the
    * state delta between the two batch fences — stale changes that
    * lost the lsn merge emit nothing and self-cancelling flip-flops
    * telescope away. Same feed-set selection and fence as
    * [[readChanges]]. Check [[deltaFeedCovers]] before relying on it:
    * the feed is opt-in per batch, and a range with holes must fall
    * back to the snapshot-diff path. */
  def readDeltaChanges(sinceBatchId: Long = -1L,
      untilBatchId: Long = current.batchId): DataFrame =
    readFeed(current, DeltaFeedDir, sinceBatchId, untilBatchId)

  /** Does the pre-image delta feed cover every applied batch in
    * `(sinceBatchId, untilBatchId]`? True when the snapshot holds a
    * delta feed set for exactly the batches it holds change feed sets
    * for in range (the change feed records every batch applied with
    * the changelog on, which [[graft.lake.Ivm]] requires anyway) and
    * none of the range is in a compacted change set (which no longer
    * says which batches it holds). Metadata only. */
  def deltaFeedCovers(sinceBatchId: Long,
      untilBatchId: Long = current.batchId): Boolean = {
    val s = current
    val main = feedSets(s, ChangelogDir, sinceBatchId, untilBatchId)
    main.forall(f => f.fromBatch == f.toBatch) && main.map(_.toBatch).toSet ==
      feedSets(s, DeltaFeedDir, sinceBatchId, untilBatchId).map(_.toBatch).toSet
  }

  private def feedSets(s: Snapshot, kind: String, since: Long, until: Long): Seq[FeedSet] =
    s.feeds.filter(f => f.kind == kind && f.toBatch > since && f.fromBatch <= until)

  /** Rows of the `kind` feed in `(since, until]` at snapshot `s`'s feed
    * schema. Rows are filtered by `batch_id` only when a compacted set
    * straddles the range: a per-batch set is in or out by its metadata,
    * so the usual read compiles no per-call literal. */
  private def readFeed(s: Snapshot, kind: String, since: Long, until: Long): DataFrame = {
    val sets = feedSets(s, kind, since, until)
    val rows = readSets(s, kind, sets)
    if (sets.forall(f => f.fromBatch > since && f.toBatch <= until)) rows
    else rows.filter(col("batch_id") > since && col("batch_id") <= until)
  }

  /** Every row of `sets`: one scan per schema id their files were
    * written at, aligned to `s`'s feed schema (no footer inference). */
  private def readSets(s: Snapshot, kind: String, sets: Seq[FeedSet]): DataFrame = {
    val schemaOf = feedSchemaOf(kind)
    val target = schemaOf(s.schema)
    sets.filter(_.files.nonEmpty).groupBy(_.schemaId).toSeq.sortBy(_._1).map { case (sid, fl) =>
      align(scan(schemaOf(s.schemas(sid)), fl.flatMap(_.files)), target)
    }.reduceOption(_ unionByName _).getOrElse(emptyFrame(target))
  }

  /** LocalRelation-backed empty frame (not an empty RDD): keeps a plan
    * that joins against it codegen- and AQE-friendly. */
  private def emptyFrame(schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  /** FEED COMPACTION — merge the change feed's sets of batches at or
    * below `current.batchId - retainRecent` into one set, so a
    * long-retention feed stays cheap to open (one micro-batch per
    * minute is ~1,440 sets a day; the per-batch layout is write-optimal
    * but open-cost-pathological for a tailer reading weeks of history).
    * The merged rows are range-clustered by (batch_id, doc_id), so an
    * incremental `readChanges(since)` through the merged set prunes at
    * parquet row-group granularity. The newest `retainRecent` batches
    * stay per-batch sets (they are what live tailers poll). The
    * replacement is a commit, like [[compact]]'s: the old sets' files
    * stay for the snapshots that still reference them, and [[vacuum]]
    * removes them once none does. Single-writer with the replay's
    * maintenance window. No-op when fewer than two sets are eligible. */
  def compactChangelog(retainRecent: Int = 1): Unit = {
    require(retainRecent >= 0, s"compactChangelog retainRecent=$retainRecent must be >= 0")
    val s = current
    val old = s.feeds.filter(f => f.kind == ChangelogDir && f.toBatch <= s.batchId - retainRecent)
    if (old.size < 2) return
    val merged = writeFeedSet(s, ChangelogDir, old.map(_.fromBatch).min, old.map(_.toBatch).max,
      readSets(s, ChangelogDir, old))
    commit(Nil, Set.empty, s.batchId, Map.empty, Nil, s.version,
      newFeeds = Seq(merged), keepFeed = f => !old.contains(f))
  }

  /** Write `rows` (feed rows, `batch_id` included) as the `kind` set of
    * batches `from..to`, range-clustered by (batch_id, doc_id), under a
    * fresh commit dir like any data write. */
  private def writeFeedSet(s: Snapshot, kind: String, from: Long, to: Long, rows: DataFrame): FeedSet = {
    val out = TaskWriter.Out(s"$root/$kind/c-${UUID.randomUUID()}", feedSchemaOf(kind)(s.schema))
    val tagged = rows.select(lit(0).as("kind"), lit(-1).as("bucket"),
      struct(col("batch_id"), col("doc_id")).as("key"), struct(out.schema.fieldNames.toIndexedSeq.map(col): _*))
    val files = TaskWriter.write(tagged.repartitionByRange(col("batch_id"), col("doc_id")), IndexedSeq(out))
    FeedSet(kind, from, to, s.schemaId, files.map(w => relative(w.path)))
  }

  // --------------------------------------------------------------- write

  /** Write `df` (physical rows WITH a `bucket` column) as parquet files
    * under a fresh `data/c-<uuid>/` commit dir, one file per (task,
    * bucket), each sorted by `doc_id`, and return their manifest
    * entries. Not yet visible — call [[commit]] to publish.
    *
    * One Spark job, no file committer: each task writes its FINAL,
    * uniquely named files and returns every file's rows and `_lsn`
    * min/max, counted as it wrote them — the Iceberg task-side
    * `DataFile` collection ([[TaskWriter]]). Visibility is governed
    * solely by the snapshot manifest, so the reference's temp+rename
    * 2PC (`HdfsWriter.java:193-324`) collapses to the single
    * snapshot-descriptor publish, and a crash or a failed task attempt
    * leaves only unreferenced files that [[vacuum]] removes.
    *
    * `repartitionByBucket = false` skips the write-side shuffle: callers
    * use it when the incoming partitioning already confines each bucket
    * to one task (the MERGE join's hash(doc_id) exchange with
    * numPartitions == nBuckets — see [[LakeTable.bucketExpr]]). Stats
    * are per FILE, so multiple files per bucket (AQE skew splits,
    * unaligned callers) stay correct. */
  def writeDataFiles(df: DataFrame, schemaId: Int, repartitionByBucket: Boolean = true): Seq[DataFile] = {
    val out = dataOut(asNullable(current.physicalSchema(schemaId)))
    val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val rows = df.select(lit(0).as("kind"), col("bucket"), col("doc_id").as("key"),
      struct(out.schema.fields.map(f =>
        SchemaCompat.castTo(col(f.name), have(f.name), f.dataType).as(f.name)).toIndexedSeq: _*))
    TaskWriter.write(if (repartitionByBucket) rows.repartition(col("bucket")) else rows, IndexedSeq(out))
      .map(dataFile(_, schemaId))
  }

  /** The data output of one write: a fresh commit dir, bucketed. */
  private[graft] def dataOut(phys: StructType): TaskWriter.Out =
    TaskWriter.Out(s"$root/data/c-${UUID.randomUUID()}", phys, Some(LsnCol), Some("bucket"))

  /** The manifest entry of a data file a task wrote under [[dataOut]]. */
  private[graft] def dataFile(w: TaskWriter.Written, schemaId: Int): DataFile =
    DataFile(relative(w.path), w.bucket, w.rows, w.minLsn, w.maxLsn, schemaId)

  /** The output of one write of the `kind` feed for `batchId`, at the
    * feed schema of `user`, under a fresh commit dir like [[dataOut]].
    * The tasks fill in `batch_id`, so its value never enters generated
    * code. */
  private[graft] def feedOut(kind: String, user: StructType, batchId: Long): TaskWriter.Out =
    TaskWriter.Out(s"$root/$kind/c-${UUID.randomUUID()}", feedSchemaOf(kind)(user),
      constants = Seq(batchId.toInt))

  /** A path under the root as the manifests record it. */
  private[graft] def relative(path: String): String = path.stripPrefix(s"$root/")

  /** Publish a new snapshot: replace all files of `replacedBuckets` with
    * `newFiles`, keep the feed sets `keepFeed` accepts and add
    * `newFeeds`, advance batch/watermark/lineage metadata. Retries are
    * the caller's concern (single-writer pipelines never race). Returns
    * the committed snapshot. */
  def commit(
      newFiles: Seq[DataFile],
      replacedBuckets: Set[Int],
      batchId: Long,
      newWatermarks: Map[Int, Long],
      lineage: Seq[LineageEntry],
      expectedVersion: Long,
      newNBuckets: Option[Int] = None,
      newFeeds: Seq[FeedSet] = Nil,
      keepFeed: FeedSet => Boolean = _ => true): Snapshot = {
    val s = snapshotAt(expectedVersion)
    if (currentVersion != expectedVersion)
      throw new IllegalStateException(s"concurrent commit: expected v$expectedVersion, found v$currentVersion")
    val kept = s.files.filterNot(f => replacedBuckets.contains(f.bucket))
    require(newNBuckets.isEmpty || kept.isEmpty,
      "bucket-count change requires replacing every existing file (full rewrite)")
    val allFiles = kept ++ newFiles
    val keptFeeds = s.feeds.filter(keepFeed)
    val allFeeds = keptFeeds ++ newFeeds
    // metadata cost per commit = ONE delta manifest of O(batch files);
    // the manifest list is consolidated once it exceeds the threshold
    // (amortized O(table files / CompactManifestsAt) per commit), on a
    // legacy (inline-file) parent (its self-upgrade), and when feed
    // sets are dropped (manifests only ever add feed sets)
    val nextManifests =
      if ((s.manifests.isEmpty && s.files.nonEmpty) || s.manifests.size + 1 > CompactManifestsAt ||
        keptFeeds.size < s.feeds.size)
        Seq(writeManifest(Manifest(allFiles, Set.empty, allFeeds)))
      else
        s.manifests :+ writeManifest(Manifest(newFiles, replacedBuckets, newFeeds))
    val next = s.copy(
      version = s.version + 1,
      parent = s.version,
      nBuckets = newNBuckets.getOrElse(s.nBuckets),
      files = allFiles,
      feeds = allFeeds,
      batchId = batchId,
      watermarks = s.watermarks ++ newWatermarks.map { case (k, v) =>
        k -> math.max(v, s.watermarks.getOrElse(k, Long.MinValue))
      },
      lineage = lineage,
      manifests = nextManifests)
    if (!writeSnapshot(next))
      throw new IllegalStateException(s"commit race on v${next.version}")
    cachePut(next.version, next)
  }

  // --------------------------------------------------------- re-bucketing

  /** Bucket-count evolution: rewrite every live row (tombstones kept —
    * they still fence late lsns) into `newNBuckets` hash buckets and
    * commit a snapshot carrying the new count. This is the growth path
    * when a table has outgrown its bucket count (per-bucket size is the
    * COW/merge work unit): at 100 TB you'd run it as an offline
    * maintenance job, like Iceberg's rewrite-with-new-partition-spec.
    * One shuffle (repartition on the new bucket) + one write; the next
    * micro-batch picks the new count up from the snapshot automatically
    * (BatchApply reads `snap.nBuckets` per batch, and its write-side
    * shuffle-elision check re-evaluates against the new count). */
  def rebucket(newNBuckets: Int): Snapshot = {
    require(newNBuckets >= 1, s"newNBuckets=$newNBuckets")
    val s = current
    if (newNBuckets == s.nBuckets) return s
    // Divisible rescales are SHUFFLE-FREE: bucket = pmod(hash(doc_id), n),
    // so when oldN | newN every new bucket refines exactly one old bucket
    // (pmod(h, oldN) == pmod(pmod(h, newN), oldN)) — a scan task holding
    // old-bucket rows already holds complete rows of the new buckets it
    // will write; and when newN | oldN each old bucket coarsens wholly
    // into one new bucket. Either way the rewrite is an embarrassingly
    // parallel per-file re-tag (partitionBy splits locally), no Exchange.
    // At 10^10-event scale this is the difference between "rescale = one
    // pass over the table" and "rescale = shuffle the whole table": grow
    // 2^6 -> 2^12 buckets without moving a row across tasks. Non-divisible
    // targets (rare; suggestBuckets returns powers of two) fall back to a
    // repartition so file count stays ~newN instead of oldN x newN.
    val divisible = newNBuckets % s.nBuckets == 0 || s.nBuckets % newNBuckets == 0
    // delta chains fold for free: readResolved collapses to one row/key
    // (a bucket with deltas resolves through its own hash exchange; its
    // output partitioning is doc_id-hashed, which partitionBy still
    // splits locally — correctness never depends on the layout)
    val rows = readResolved(None, Some(s))
      .withColumn("bucket", bucketExpr(col("doc_id"), newNBuckets))
    val files = writeDataFiles(rows, s.schemaId, repartitionByBucket = !divisible)
    commit(files, s.files.map(_.bucket).toSet, s.batchId, Map.empty, Nil, s.version,
      newNBuckets = Some(newNBuckets))
  }

  // ------------------------------------------------------ schema evolution

  /** Additive schema evolution: appended nullable columns and integral
    * widening (int->long) only — the Iceberg-v2 safe subset. Metadata-only
    * commit (existing files are aligned at read time by schema-id). */
  def evolveSchema(newSchema: StructType): Snapshot = {
    val s = current
    val old = s.schema
    if (newSchema.json == old.json) return s
    val oldByName = old.fields.map(f => f.name -> f).toMap
    newSchema.fields.foreach { f =>
      oldByName.get(f.name) match {
        case None =>
          require(f.nullable, s"new column ${f.name} must be nullable")
        case Some(prev) =>
          val widen = (prev.dataType, f.dataType) match {
            case (a, b) if a == b => true
            case (IntegerType, LongType) => true
            case (FloatType, DoubleType) => true
            case _ => false
          }
          require(widen, s"non-additive change on ${f.name}: ${prev.dataType} -> ${f.dataType}")
      }
    }
    old.fields.foreach { f =>
      require(newSchema.fieldNames.contains(f.name), s"column drop not allowed: ${f.name}")
    }
    val nid = s.schemaId + 1
    // a legacy (inline-file) parent self-upgrades: its file list must
    // become a manifest before the v3 descriptor can reference it
    val ms = if (s.manifests.isEmpty && s.files.nonEmpty)
      Seq(writeManifest(Manifest(s.files, Set.empty))) else s.manifests
    val next = s.copy(version = s.version + 1, parent = s.version,
      schemaId = nid, schemas = s.schemas + (nid -> newSchema), manifests = ms)
    if (!writeSnapshot(next)) throw new IllegalStateException("evolve commit race")
    cachePut(next.version, next)
  }

  /** ROLLBACK — reinstate the table state of a retained snapshot as a
    * NEW head commit (Iceberg's rollback discipline: history only moves
    * forward; the bad commits stay inspectable until [[vacuum]] expires
    * them). The new descriptor copies the target's schema, file set,
    * batch fence, watermarks and lineage, so reads serve the old state
    * and a resumed ingest re-applies everything past the reinstated
    * `batchId` — note the STREAM side must be rewound too (a fresh
    * checkpoint dir over a log that still holds those events), exactly
    * like Iceberg rollback + source rewind. The target's manifests
    * carry its feed sets, so both feeds read exactly as they did at the
    * target — across a later [[compactChangelog]] too — and a batch
    * applied again writes its feed files afresh. */
  def rollbackTo(version: Long): Snapshot = {
    val head = current
    if (version == head.version) return head
    require(listVersions.contains(version),
      s"cannot roll back to unknown/expired version $version (retained: ${listVersions.mkString(",")})")
    val tgt = snapshotAt(version)
    // a legacy (inline-file) target self-upgrades, same as evolveSchema
    val ms = if (tgt.manifests.isEmpty && tgt.files.nonEmpty)
      Seq(writeManifest(Manifest(tgt.files, Set.empty))) else tgt.manifests
    val next = tgt.copy(version = head.version + 1, parent = head.version, manifests = ms)
    if (!writeSnapshot(next)) throw new IllegalStateException("rollback commit race")
    cachePut(next.version, next)
  }

  // ------------------------------------------------------------- maintain

  /** Rewrite buckets that contain tombstones or merge-on-read delta
    * files: deltas fold into their base (one resolved row per key),
    * tombstones drop. Tombstone removal is safe once the upstream no
    * longer replays lsns below the tombstone lsn (i.e. past the
    * checkpoint watermark). */
  def compact(): Snapshot = {
    val s = current
    val tomb = readPhysical(None, Some(s)).filter(col(DeletedCol))
      .select(bucketExpr(col("doc_id"), s.nBuckets)).distinct().collect().map(_.getInt(0)).toSet
    val withDeltas = s.files.filter(_.delta).map(_.bucket).toSet
    val target = tomb ++ withDeltas
    if (target.isEmpty) return s
    val live = readResolved(Some(target), Some(s)).filter(!col(DeletedCol))
      .withColumn("bucket", bucketExpr(col("doc_id"), s.nBuckets))
    val files = writeDataFiles(live, s.schemaId)
    commit(files, target, s.batchId, Map.empty, Nil, s.version)
  }

  /** Garbage-collect the table: EXPIRE snapshot descriptors older than
    * the last `retainLast` (bounding the `snapshots/` listing that
    * every `current` call scans — without expiration it grows one
    * descriptor per commit forever), delete manifests no retained
    * snapshot references (expired ones + orphans from lost commit
    * races), then delete data and feed files no retained snapshot
    * references (crash debris, superseded COW files, replaced or
    * expired feed sets) and prune emptied commit/bucket directories.
    * Time travel remains valid exactly for the retained snapshots.
    *
    * `changelogRetainBatches >= 0` first commits the expiry of both
    * feeds' sets of batches `<= current.batchId -
    * changelogRetainBatches` (the feeds otherwise grow one set per
    * micro-batch forever); a compacted set the cutoff falls inside is
    * rewritten to its retained rows, so retention stays row-exact.
    * Retention is the downstream-consumer contract: expire only past
    * the oldest `sinceBatchId` any consumer may still ask for — an
    * incremental reader requesting an expired range silently misses
    * those batches, exactly like an expired Kafka retention window.
    * Default -1 keeps everything. */
  def vacuum(retainLast: Int = 1, changelogRetainBatches: Long = -1L): Unit = {
    require(retainLast >= 1, s"vacuum retainLast=$retainLast must be >= 1")
    if (changelogRetainBatches >= 0) {
      val s = current
      val cutoff = s.batchId - changelogRetainBatches
      val expired = s.feeds.filter(_.fromBatch <= cutoff)
      if (expired.nonEmpty) {
        val cut = expired.filter(_.toBatch > cutoff).map(f => writeFeedSet(s, f.kind, cutoff + 1,
          f.toBatch, readSets(s, f.kind, Seq(f)).filter(col("batch_id") > cutoff)))
        commit(Nil, Set.empty, s.batchId, Map.empty, Nil, s.version,
          newFeeds = cut, keepFeed = _.fromBatch > cutoff)
      }
    }
    val versions = listVersions
    val snaps = versions.takeRight(retainLast).map(snapshotAt)
    val referenced = snaps.flatMap(s => s.files.map(_.path) ++ s.feeds.flatMap(_.files))
      .map(f => new Path(root, f).toUri.getPath).toSet
    val refManifests = snaps.flatMap(_.manifests).map(m => new Path(root, m).toUri.getPath).toSet
    versions.dropRight(retainLast).foreach { v =>
      fs.delete(new Path(snapDir, f"v$v%08d.json"), false)
    }
    snapCache.clear()
    val mDir = new Path(root, "manifests")
    if (fs.exists(mDir)) fs.listStatus(mDir).foreach { st =>
      if (!refManifests.contains(st.getPath.toUri.getPath)) fs.delete(st.getPath, false)
    }
    // post-order: returns true when `p` still holds anything after cleanup
    def walk(p: Path): Boolean = {
      var occupied = false
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory) {
          if (walk(st.getPath)) occupied = true
          else fs.delete(st.getPath, false)
        } else if (!referenced.contains(st.getPath.toUri.getPath)) fs.delete(st.getPath, false)
        else occupied = true
      }
      occupied
    }
    Seq("data", ChangelogDir, DeltaFeedDir).map(new Path(root, _)).filter(fs.exists).foreach(walk)
  }
}
