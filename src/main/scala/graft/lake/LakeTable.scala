package graft.lake

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
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
 *
 * A snapshot records: schema history (schema-id chain, additive
 * evolution only), an ORDERED MANIFEST LIST (each manifest is one
 * commit's delta: the data files it added, with bucket + row count +
 * lsn min/max stats, plus the bucket set it replaced), a summary (last
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
 * Commit protocol: data files and the delta manifest land under fresh
 * names first; the commit point is publishing descriptor `v<N+1>` with
 * [[Commit.publish]] (temp file, then one exclusive link or rename —
 * the reference's temp-then-rename output, DataX
 * `hdfswriter/.../HdfsWriter.java:193-194` + `HdfsHelper.renameFile:207-233`,
 * made exclusive). Readers list `snapshots/` and take the max version,
 * so a crash mid-commit leaves only ignored `.tmp` files and orphan data
 * files (cleaned by `vacuum()`); of any number of committers racing to
 * the same version exactly one wins, the rest fail loudly.
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
    * Version 3 = manifest-list descriptors; version 2 = inline file
    * lists (still readable — the data layout and bucket function are
    * unchanged, so a v2 table loads as legacy and upgrades itself on
    * its next commit). Snapshots written before stamping existed parse
    * with ABSENT fields: those are treated as the known v1-compatible
    * format (same bucket fn since v1), per the upgrade policy — the
    * hard failure is reserved for a DECLARED bucketFn that differs,
    * because a table bucketed by a different hash silently mis-buckets
    * (merges read the wrong base files, compact() rewrites the wrong
    * buckets). */
  val FormatVersion = 3
  val BucketFn = "murmur3_pmod" // Spark hash() = Murmur3_x86_32 seed 42, pmod nBuckets

  /** Manifest-list length that triggers consolidation at commit. */
  val CompactManifestsAt = 16

  /** Subdirectory holding the opt-in change-data feed (one
    * `batch_id=N/` parquet partition per applied micro-batch — see
    * [[graft.apply.BatchApply]] `changelog`). */
  val ChangelogDir = "changelog"

  /** Ranged (compacted) feed-store dir-name prefix under changelog/:
    * `.ranged-<loBatchId>-<hiBatchId>`. Dot-prefixed so the per-batch
    * partitioned parquet read never sees it (see
    * [[LakeTable.compactChangelog]]). */
  val RangedFeedPrefix = ".ranged-"

  /** Subdirectory holding the opt-in PRE-IMAGE DELTA feed (one
    * `batch_id=N/` parquet partition per applied micro-batch, written
    * only with `changelog = true, preimages = true` — see
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

  /** Columns of [[LakeTable.readChanges]] rows: the canonical change's
    * payload, `shard`, and the `batch_id` partition column, last. The
    * payload takes the table's own types ([[changeFeedSchemaOf]]); this
    * is the shape of a feed with no published batch yet. */
  val changeFeedSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", StringType), StructField("op", StringType),
      StructField("lsn", LongType), StructField("tokens", ArrayType(IntegerType)),
      StructField("n_tok", LongType), StructField("source", StringType),
      StructField("lang", StringType), StructField("shard", IntegerType),
      StructField("batch_id", IntegerType)))
  }

  /** The change feed's file and read schema for a table whose user
    * schema is `user`: [[changeFeedSchema]] with each payload column at
    * the table's type (a long-keyed table keeps long keys; `lang` stays
    * a string until the table evolves to carry it), all nullable.
    * [[graft.apply.BatchApply]] writes the feed at the applying
    * snapshot's schema and every read passes the current one, so no
    * read infers a schema, and a column an evolution widened (int
    * `n_tok` to long) widens on read. */
  def changeFeedSchemaOf(user: StructType): StructType = asNullable(StructType(
    changeFeedSchema.fields.map(f => user.find(_.name == f.name).fold(f)(u => f.copy(dataType = u.dataType)))))

  /** Schema of [[LakeTable.readDeltaChanges]] rows: the payload columns
    * at the table's EVOLVED shape (n_tok already widened, lang present
    * — pre-images of pre-evolution rows carry null lang), a signed
    * contribution marker, and the `batch_id` partition column. */
  val deltaFeedSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", StringType), StructField("sign", IntegerType),
      StructField("lsn", LongType), StructField("tokens", ArrayType(IntegerType)),
      StructField("n_tok", LongType), StructField("source", StringType),
      StructField("lang", StringType),
      StructField("batch_id", IntegerType)))
  }

  /** `delta=true` marks a merge-on-read file: its rows OVERLAY the
    * bucket's base rows, resolved at read time by max `_lsn` per key
    * (Iceberg-v2 positional-delete analog expressed as upsert rows). */
  final case class DataFile(path: String, bucket: Int, rows: Long, minLsn: Long, maxLsn: Long,
      schemaId: Int, delta: Boolean = false)

  final case class LineageEntry(batchId: Long, shard: Int, minLsn: Long, maxLsn: Long, rows: Long)

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
      manifests: Seq[String] = Nil) { // ordered delta-manifest paths (v3)

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

  /** One commit's delta: files it added + buckets it replaced. The live
    * file set of a snapshot is the in-order fold of its manifests. */
  private[lake] final case class Manifest(added: Seq[DataFile], replacedBuckets: Set[Int])

  private[lake] def manifestToJson(m: Manifest): JValue = JObject(
    "added" -> JArray(m.added.toList.map(fileToJson)),
    "replacedBuckets" -> JArray(m.replacedBuckets.toList.sorted.map(b => JInt(b))))

  private[lake] def manifestFromJson(j: JValue): Manifest = {
    implicit val fmts: Formats = DefaultFormats
    Manifest(
      (j \ "added").asInstanceOf[JArray].arr.map(fileFromJson),
      (j \ "replacedBuckets").asInstanceOf[JArray].arr.map(_.extract[Int]).toSet)
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
      else parsed.copy(files = foldManifests(parsed.manifests.map(readManifest)))
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
    val out = fs.create(new Path(root, rel))
    try out.write(JsonMethods.pretty(manifestToJson(m)).getBytes("UTF-8")) finally out.close()
    rel
  }

  private[lake] def writeSnapshot(s: Snapshot): Boolean =
    Commit.publish(fs, new Path(snapDir, f"v${s.version}%08d.json"),
      JsonMethods.pretty(snapToJson(s)).getBytes("UTF-8"))

  // ---------------------------------------------------------------- read

  /** Physical rows (tombstones + system cols included), aligned to the
    * current schema. `buckets=Some(set)` prunes the scan to those buckets
    * using manifest metadata only. */
  def readPhysical(buckets: Option[Set[Int]] = None, snapshot: Option[Snapshot] = None): DataFrame = {
    val s = snapshot.getOrElse(current)
    val files = buckets match {
      case Some(bs) => s.files.filter(f => bs.contains(f.bucket))
      case None => s.files
    }
    val targetPhys = s.physicalSchema(s.schemaId)
    if (files.isEmpty) {
      // LocalRelation-backed empty frame (not an empty RDD): keeps the
      // plan codegen- and AQE-friendly when joined against
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), targetPhys)
    } else {
      // group by schema-id; align older files to the current schema:
      // missing columns -> null, widened columns -> cast (additive only)
      files.groupBy(_.schemaId).map { case (sid, fl) =>
        val df = spark.read.schema(s.physicalSchema(sid))
          .parquet(fl.map(f => s"$root/${f.path}"): _*)
        align(df, targetPhys)
      }.reduce(_ unionByName _)
    }
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
    * max-`_lsn` winner per doc_id. Buckets without deltas skip the
    * resolution shuffle entirely (plain COW read path). */
  def readResolved(buckets: Option[Set[Int]] = None, snapshot: Option[Snapshot] = None): DataFrame = {
    val s = snapshot.getOrElse(current)
    val wanted: DataFile => Boolean = buckets match {
      case Some(bs) => f => bs.contains(f.bucket)
      case None => _ => true
    }
    val deltaBuckets = s.files.filter(f => f.delta && wanted(f)).map(_.bucket).toSet
    if (deltaBuckets.isEmpty) readPhysical(buckets, Some(s))
    else {
      val plainBuckets = s.files.filter(wanted).map(_.bucket).toSet -- deltaBuckets
      val physCols = s.physicalSchema(s.schemaId).fieldNames.toSeq
      val payload = struct(physCols.map(col): _*)
      val resolved = readPhysical(Some(deltaBuckets), Some(s))
        .groupBy(col("doc_id"))
        .agg(max_by(payload, col(LsnCol)).as("w"))
        // doc_id from the grouping key, not the struct: the output then
        // keeps the aggregate's hash(doc_id) partitioning, so a join on
        // doc_id needs no second exchange
        .select(physCols.map(c => if (c == "doc_id") col(c) else col(s"w.$c").as(c)): _*)
      if (plainBuckets.isEmpty) resolved
      else readPhysical(Some(plainBuckets), Some(s)).unionByName(resolved)
    }
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
    * table reads at most k buckets' files, not the table. Keys are
    * rendered through one LocalRelation-backed job (bounded by |keys|,
    * touches no files) so the literals take the table's exact key type —
    * the same `bucketExpr` hash the writer used; a mistyped literal
    * would hash to the wrong bucket and silently miss, so the cast is
    * the correctness step, not a convenience. */
  def readKeys(keys: Seq[Any], snapshot: Option[Snapshot] = None): DataFrame = {
    val s = snapshot.getOrElse(current)
    if (keys.isEmpty) return read(Some(s)).limit(0)
    val keyType = s.physicalSchema(s.schemaId)("doc_id").dataType
    import spark.implicits._
    val info = keys.map(String.valueOf).toDF("k")
      .select(col("k").cast(keyType).as("doc_id"))
      .select(col("doc_id"), bucketExpr(col("doc_id"), s.nBuckets).as("b"))
      .collect()
    val buckets = info.map(_.getInt(1)).toSet
    val typed = info.map(_.get(0)).toIndexedSeq
    readResolved(Some(buckets), Some(s))
      .filter(col("doc_id").isInCollection(typed))
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
    * scan of COW buckets for row-group skipping. Returns user columns
    * plus `last_lsn` — the per-row high-watermark consumers checkpoint
    * so their next export is `readUpdatedSince(prevMax + 1)`. */
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
    * THIS table's changes the way this engine tails its upstream log).
    * Returns the canonical per-key changes of every batch in
    * `(sinceBatchId, untilBatchId]`: one row per (batch_id, doc_id)
    * with op I/U/D, lsn, and the payload columns — exactly what
    * [[graft.apply.BatchApply]] merged, so replaying these changes into
    * a second table reproduces the first's state.
    *
    * Requires the feed to have been enabled at write time
    * (`changelog = true` — writing change files costs one extra
    * O(batch) parquet write per commit; diffing COW snapshots after the
    * fact would cost O(table)). Reads prune to the requested batch_id
    * partitions. Feed partitions are STAGED (hidden dot-dir) before
    * the snapshot commit and PUBLISHED with one atomic rename after it
    * (fenced retries re-run the rename — see [[graft.apply.BatchApply
    * .publishChangelog]]), so a visible partition only ever holds a
    * committed batch's complete changes. `untilBatchId` is the upper
    * fence: a consumer pins it from the snapshot it reads against, so
    * a batch committed while it reads is left to its next read; the
    * default, the current batch, also keeps out foreign files dropped
    * into the directory. */
  def readChanges(sinceBatchId: Long = -1L,
      untilBatchId: Long = current.batchId): DataFrame = {
    requireChangelog()
    val dir = new Path(root, ChangelogDir)
    val cols = LakeTable.changeFeedSchema.fieldNames.map(col).toIndexedSeq
    // Compacted history ([[compactChangelog]]): at most one LIVE ranged
    // store — the max-hi dir (every compaction subsumes all earlier
    // ranged dirs, so lower-hi dirs are crash debris, as are batch_id=
    // partitions it covers: compaction deletes them after the ranged
    // rename, and a crash between the two leaves both readable — the
    // covered-id filter keeps the read exactly-once either way).
    val ranged = rangedFeedDirs().lastOption
    val coveredHi = ranged.map(_._2).getOrElse(-1L)
    val hasParts = fs.listStatus(dir).exists { st =>
      val n = st.getPath.getName
      n.startsWith("batch_id=") && n.stripPrefix("batch_id=").toLong > coveredHi
    }
    // A feed dir with no PUBLISHED batch_id= partition yet (e.g. crash
    // after staging but before the first commit leaves only a
    // .staged- dot-dir) reads as an empty frame with the feed schema —
    // the same thing a polling tailer would see one instant before the
    // first publish. Explicit schema: no footer-inference job per read.
    val parts =
      if (!hasParts) None
      else Some(spark.read.schema(changeFeedSchemaOf(current.schema))
        .option("basePath", dir.toString).parquet(dir.toString)
        .filter(col("batch_id") > coveredHi).select(cols: _*))
    val rangedDf = ranged.map { case (_, _, p) =>
      spark.read.schema(changeFeedSchemaOf(current.schema)).parquet(p.toString).select(cols: _*)
    }
    val all = (rangedDf.toSeq ++ parts.toSeq).reduceOption(_ unionByName _)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], LakeTable.changeFeedSchema))
    all.filter(col("batch_id") > sinceBatchId && col("batch_id") <= untilBatchId)
  }

  /** The curated error for a feed read on a table replayed without
    * `changelog = true`. */
  private[graft] def requireChangelog(): Unit =
    require(fs.exists(new Path(root, ChangelogDir)),
      s"no changelog under $root — replay with changelog=true to enable the change feed")

  /** PRE-IMAGE DELTA READ — signed state-change rows of every batch in
    * `(sinceBatchId, untilBatchId]` (see [[LakeTable.DeltaFeedDir]]).
    * The telescoping property that makes this the zero-table-read IVM
    * input: summing a batch's signed rows gives exactly (state after
    * batch) − (state before batch), so summing the range gives the
    * state delta between the two batch fences — stale changes that
    * lost the lsn merge emit nothing and self-cancelling flip-flops
    * telescope away. Same staged/publish/fence discipline as
    * [[readChanges]]. Check [[deltaFeedCovers]] before relying on it:
    * the feed is opt-in per batch, and a range with holes must fall
    * back to the snapshot-diff path. */
  def readDeltaChanges(sinceBatchId: Long = -1L,
      untilBatchId: Long = current.batchId): DataFrame = {
    val dir = new Path(root, LakeTable.DeltaFeedDir)
    val cols = LakeTable.deltaFeedSchema.fieldNames.map(col).toIndexedSeq
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], LakeTable.deltaFeedSchema)
    if (!fs.exists(dir) ||
      !fs.listStatus(dir).exists(_.getPath.getName.startsWith("batch_id=")))
      return empty
    // explicit schema: skips the footer-merge schema inference over
    // every partition — the fixed cost that would grow with feed age
    spark.read.schema(LakeTable.deltaFeedSchema)
      .option("basePath", dir.toString).parquet(dir.toString)
      .select(cols: _*)
      .filter(col("batch_id") > sinceBatchId && col("batch_id") <= untilBatchId)
  }

  /** Published batch ids under a feed dir (driver listing, O(dirs)). */
  private def feedBatchIds(dirName: String): Set[Long] = {
    val dir = new Path(root, dirName)
    if (!fs.exists(dir)) return Set.empty
    fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong).toSet
  }

  /** Does the pre-image delta feed cover every applied batch in
    * `(sinceBatchId, untilBatchId]`? True when the delta feed has a
    * partition for exactly the batches the MAIN feed has in range (the
    * main feed writes one partition per applied batch whenever the
    * changelog is on — which [[graft.lake.Ivm]] requires anyway) and
    * none of the range is buried in a compacted ranged store (whose
    * per-batch dirs are gone — enumeration would be O(rows)). */
  def deltaFeedCovers(sinceBatchId: Long,
      untilBatchId: Long = current.batchId): Boolean = {
    val coveredHi = rangedFeedDirs().lastOption.map(_._2).getOrElse(-1L)
    if (coveredHi > sinceBatchId) return false
    val inRange = (b: Long) => b > sinceBatchId && b <= untilBatchId
    val main = feedBatchIds(ChangelogDir).filter(inRange)
    val delta = feedBatchIds(LakeTable.DeltaFeedDir).filter(inRange)
    main == delta
  }

  /** Ranged feed stores under changelog/ — `.ranged-<lo>-<hi>` dot-dirs
    * (hidden from the partitioned parquet read), sorted by (hi, lo):
    * the LAST entry is the live store. Driver-side listing of one
    * directory — O(dirs), bounded by compaction itself. */
  private def rangedFeedDirs(): Seq[(Long, Long, Path)] = {
    val dir = new Path(root, ChangelogDir)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (!n.startsWith(LakeTable.RangedFeedPrefix)) None
      else n.stripPrefix(LakeTable.RangedFeedPrefix).split("-") match {
        case Array(lo, hi) => Some((lo.toLong, hi.toLong, st.getPath))
        case _ => None
      }
      // ties on hi prefer the LARGER lo: a crashed retention rewrite
      // leaves old (lo, hi) beside new (cutoff+1, hi) — the rewritten
      // store must win so the expired rows stay expired
    }.sortBy { case (lo, hi, _) => (hi, lo) }
  }

  /** FEED COMPACTION — coalesce per-batch change-feed partitions into
    * one ranged store so a long-retention feed stays readable (one
    * micro-batch per minute = ~1,440 partition dirs/day; the per-batch
    * layout is write-optimal but listing- and open-cost-pathological
    * for a tailer reading weeks of history). All published partitions
    * with `batch_id <= current.batchId - retainRecent`, PLUS the
    * previous ranged store, rewrite into `changelog/.ranged-<lo>-<hi>`
    * — batch_id carried as a DATA column, rows range-clustered by
    * (batch_id, doc_id) so an incremental `readChanges(since)` prunes
    * at parquet row-group granularity instead of by directory. The
    * newest `retainRecent` batches stay per-batch partitions (they are
    * what live tailers poll; compacting them would rewrite hot data).
    *
    * Crash-safe like every commit here: the new store is written to a
    * `.tmp-` dir and RENAMED live before any deletion; each compaction
    * subsumes all earlier ranged stores, so [[readChanges]]'s max-hi
    * rule reads exactly-once through any crash window, and the next
    * compaction (or [[vacuum]]) clears leftover covered partitions and
    * superseded ranged dirs. Stale staged partitions below the applied
    * watermark are HEALED first (same rule as [[vacuum]]) so a
    * committed-but-unpublished batch is compacted, never skipped.
    * Single-writer with the replay's maintenance window, like
    * [[compact]]. No-op when nothing new is eligible. */
  def compactChangelog(retainRecent: Int = 1): Unit = {
    require(retainRecent >= 0, s"compactChangelog retainRecent=$retainRecent must be >= 0")
    val dir = new Path(root, ChangelogDir)
    if (!fs.exists(dir)) return
    val applied = current.batchId
    healStagedChangelog(applied, keepBelow = Long.MinValue)
    val prior = rangedFeedDirs()
    val priorHi = prior.lastOption.map(_._2).getOrElse(-1L)
    val cutoff = applied - retainRecent
    val parts = fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong)
      .filter(b => b > priorHi && b <= cutoff)
      .sorted
    if (parts.isEmpty) return
    val lo = prior.lastOption.map(_._1).getOrElse(parts.head)
    val hi = parts.max
    val cols = LakeTable.changeFeedSchema.fieldNames.map(col).toIndexedSeq
    val feedSchema = changeFeedSchemaOf(current.schema)
    val fresh = spark.read.schema(feedSchema)
      .option("basePath", dir.toString).parquet(dir.toString)
      .filter(col("batch_id") > priorHi && col("batch_id") <= cutoff).select(cols: _*)
    val all = prior.lastOption match {
      case Some((_, _, p)) =>
        spark.read.schema(feedSchema).parquet(p.toString).select(cols: _*).unionByName(fresh)
      case None => fresh
    }
    val tmp = new Path(dir, s".tmp${LakeTable.RangedFeedPrefix}$lo-$hi")
    val live = new Path(dir, s"${LakeTable.RangedFeedPrefix}$lo-$hi")
    fs.delete(tmp, true)
    // range-cluster, don't partition: ONE store, file count bounded by
    // the shuffle parallelism per compaction (and re-bounded every run
    // since each compaction rewrites the whole store)
    all.repartitionByRange(col("batch_id"), col("doc_id"))
      .sortWithinPartitions(col("batch_id"), col("doc_id"))
      .write.mode("overwrite").parquet(tmp.toString)
    if (!fs.rename(tmp, live))
      throw new IllegalStateException(s"feed compaction rename failed for $live")
    // now superseded: earlier ranged stores and the covered partitions
    prior.foreach { case (_, _, p) => fs.delete(p, true) }
    fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("batch_id=") && n.stripPrefix("batch_id=").toLong <= hi)
        fs.delete(st.getPath, true)
    }
  }

  /** Publish (heal) stale staged feed partitions at or below `applied`
    * whose final partition is missing — the commit-landed/publish-
    * missing crash window; the staged dir is the only copy of that
    * committed batch's changes, so it must be renamed live, never
    * deleted. Staged dirs below `keepBelow` (expired or already
    * compacted) and those whose final partition exists (republish-race
    * leftovers) are debris and are removed instead. */
  private def healStagedChangelog(applied: Long, keepBelow: Long): Unit = {
    val clDir = new Path(root, ChangelogDir)
    if (!fs.exists(clDir)) return
    val coveredHi = rangedFeedDirs().lastOption.map(_._2).getOrElse(-1L)
    fs.listStatus(clDir).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(".staged-batch_id=")) {
        val b = n.stripPrefix(".staged-batch_id=").toLong
        if (b <= applied) {
          val fin = new Path(clDir, s"batch_id=$b")
          if (b < keepBelow || b <= coveredHi || fs.exists(fin)) fs.delete(st.getPath, true)
          else if (!fs.rename(st.getPath, fin))
            throw new IllegalStateException(
              s"changelog publish-heal rename failed for batch $b")
        }
      }
    }
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
    DataFile(w.path.stripPrefix(s"$root/"), w.bucket, w.rows, w.minLsn, w.maxLsn, schemaId)

  /** Publish a new snapshot: replace all files of `replacedBuckets` with
    * `newFiles`, advance batch/watermark/lineage metadata. Retries are the
    * caller's concern (single-writer pipelines never race). Returns the
    * committed snapshot. */
  def commit(
      newFiles: Seq[DataFile],
      replacedBuckets: Set[Int],
      batchId: Long,
      newWatermarks: Map[Int, Long],
      lineage: Seq[LineageEntry],
      expectedVersion: Long,
      newNBuckets: Option[Int] = None): Snapshot = {
    val s = snapshotAt(expectedVersion)
    if (currentVersion != expectedVersion)
      throw new IllegalStateException(s"concurrent commit: expected v$expectedVersion, found v$currentVersion")
    val kept = s.files.filterNot(f => replacedBuckets.contains(f.bucket))
    require(newNBuckets.isEmpty || kept.isEmpty,
      "bucket-count change requires replacing every existing file (full rewrite)")
    val allFiles = kept ++ newFiles
    // metadata cost per commit = ONE delta manifest of O(batch files);
    // the manifest list is consolidated once it exceeds the threshold
    // (amortized O(table files / CompactManifestsAt) per commit)
    val nextManifests =
      if (s.manifests.isEmpty && s.files.nonEmpty)
        // legacy (inline-file) parent: self-upgrade with one consolidated manifest
        Seq(writeManifest(Manifest(allFiles, Set.empty)))
      else if (s.manifests.size + 1 > CompactManifestsAt)
        Seq(writeManifest(Manifest(allFiles, Set.empty)))
      else
        s.manifests :+ writeManifest(Manifest(newFiles, replacedBuckets))
    val next = s.copy(
      version = s.version + 1,
      parent = s.version,
      nBuckets = newNBuckets.getOrElse(s.nBuckets),
      files = allFiles,
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
    * like Iceberg rollback + source rewind.
    *
    * Change feed: rows past the reinstated fence are already invisible
    * (`readChanges` filters `batch_id <= current.batchId`), but the
    * now-orphaned per-batch partitions must be DELETED so a re-applied
    * batch republishes cleanly (the publish path otherwise keeps the
    * stale dir — see [[graft.apply.BatchApply.publishChangelog]]'s
    * replace flag for the crash-window backstop). A COMPACTED ranged
    * store spanning the rollback point cannot be split in a
    * crash-consistent way (its hi feeds the next compaction's resume
    * point), so that case fails loudly: roll back to a newer version or
    * expire the feed first. */
  def rollbackTo(version: Long): Snapshot = {
    val head = current
    if (version == head.version) return head
    require(listVersions.contains(version),
      s"cannot roll back to unknown/expired version $version (retained: ${listVersions.mkString(",")})")
    val tgt = snapshotAt(version)
    val clDir = new Path(root, ChangelogDir)
    val hasFeed = fs.exists(clDir)
    if (hasFeed) {
      val coveredHi = rangedFeedDirs().lastOption.map(_._2).getOrElse(-1L)
      require(coveredHi <= tgt.batchId,
        s"rollback to batch ${tgt.batchId} would split the compacted feed store " +
          s"(ranged through batch $coveredHi) — roll back to a newer version, or drop the feed")
    }
    // a legacy (inline-file) target self-upgrades, same as evolveSchema
    val ms = if (tgt.manifests.isEmpty && tgt.files.nonEmpty)
      Seq(writeManifest(Manifest(tgt.files, Set.empty))) else tgt.manifests
    val next = tgt.copy(version = head.version + 1, parent = head.version, manifests = ms)
    if (!writeSnapshot(next)) throw new IllegalStateException("rollback commit race")
    cachePut(next.version, next)
    // AFTER the commit point: orphaned future feed partitions (a crash
    // here leaves them — hidden by the read fence, replaced by the
    // publish path's replace flag when their batch id is re-applied)
    Seq(clDir, new Path(root, LakeTable.DeltaFeedDir)).foreach { d =>
      if (fs.exists(d)) fs.listStatus(d).foreach { st =>
        val n = st.getPath.getName
        val b =
          if (n.startsWith("batch_id=")) Some(n.stripPrefix("batch_id=").toLong)
          else if (n.startsWith(".staged-batch_id=")) Some(n.stripPrefix(".staged-batch_id=").toLong)
          else None
        if (b.exists(_ > tgt.batchId)) fs.delete(st.getPath, true)
      }
    }
    next
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
    * races), then delete data files no retained snapshot references
    * (crash debris, superseded COW files) and prune emptied
    * commit/bucket directories. Time travel remains valid exactly for
    * the retained snapshots.
    *
    * `changelogRetainBatches >= 0` additionally expires change-feed
    * partitions with `batch_id <= current.batchId -
    * changelogRetainBatches` (the feed otherwise grows one partition
    * per micro-batch forever). Retention is the downstream-consumer
    * contract: expire only past the oldest `sinceBatchId` any consumer
    * may still ask for — an incremental reader requesting an expired
    * range silently misses those batches, exactly like an expired
    * Kafka retention window. Default -1 keeps everything. */
  def vacuum(retainLast: Int = 1, changelogRetainBatches: Long = -1L): Unit = {
    require(retainLast >= 1, s"vacuum retainLast=$retainLast must be >= 1")
    if (changelogRetainBatches >= 0) {
      val clDir = new Path(root, ChangelogDir)
      if (fs.exists(clDir)) {
        val applied = current.batchId
        val cutoff = applied - changelogRetainBatches
        fs.listStatus(clDir).foreach { st =>
          val n = st.getPath.getName
          if (n.startsWith("batch_id=") && n.stripPrefix("batch_id=").toLong <= cutoff)
            fs.delete(st.getPath, true)
        }
        // A staged dir at-or-below the applied watermark whose FINAL
        // partition is missing is the commit-landed/publish-missing
        // crash window: it is the ONLY copy of that committed batch's
        // changes, so HEAL it (the same atomic rename as
        // BatchApply.publishChangelog) rather than delete it — deleting
        // would leave a permanent hole in the feed. Only when the final
        // partition already exists (publish ran; this is a republish
        // race's leftover), the batch is already compacted into the
        // ranged store, or it is past the retention cutoff (its final
        // partition was just expired above — resurrecting it would
        // un-expire the batch) is the staged dir debris.
        healStagedChangelog(applied, keepBelow = cutoff + 1)
        // the pre-image delta feed expires on the same cutoff (same
        // consumer-lag contract; its staged dirs heal with the same
        // rename — see BatchApply.publishDeltaFeed)
        val dfDir = new Path(root, LakeTable.DeltaFeedDir)
        if (fs.exists(dfDir)) fs.listStatus(dfDir).foreach { st =>
          val n = st.getPath.getName
          if (n.startsWith("batch_id=") && n.stripPrefix("batch_id=").toLong <= cutoff)
            fs.delete(st.getPath, true)
          else if (n.startsWith(".staged-batch_id=")) {
            val b = n.stripPrefix(".staged-batch_id=").toLong
            val fin = new Path(dfDir, s"batch_id=$b")
            if (b <= applied) {
              if (b <= cutoff || fs.exists(fin)) fs.delete(st.getPath, true)
              else if (!fs.rename(st.getPath, fin))
                throw new IllegalStateException(
                  s"delta-feed publish-heal rename failed for batch $b")
            }
          }
        }
        // ranged feed stores: superseded (non-maximal) dirs are crash
        // debris from compactChangelog/rewrites; the live store expires
        // wholesale once entirely past the cutoff, and is REWRITTEN
        // (filtered to the retained ids, then swapped) when the cutoff
        // lands inside it — retention stays row-exact under compaction
        val ranged = rangedFeedDirs()
        ranged.dropRight(1).foreach { case (_, _, p) => fs.delete(p, true) }
        ranged.lastOption.foreach { case (lo, hi, p) =>
          if (hi <= cutoff) fs.delete(p, true)
          else if (lo <= cutoff) {
            val cols = LakeTable.changeFeedSchema.fieldNames.map(col).toIndexedSeq
            val keepLo = cutoff + 1
            val tmp = new Path(clDir, s".tmp${LakeTable.RangedFeedPrefix}$keepLo-$hi")
            val live = new Path(clDir, s"${LakeTable.RangedFeedPrefix}$keepLo-$hi")
            fs.delete(tmp, true)
            fs.delete(live, true) // crashed-rewrite leftover
            spark.read.schema(changeFeedSchemaOf(current.schema)).parquet(p.toString)
              .filter(col("batch_id") > cutoff)
              .select(cols: _*)
              .repartitionByRange(col("batch_id"), col("doc_id"))
              .sortWithinPartitions(col("batch_id"), col("doc_id"))
              .write.mode("overwrite").parquet(tmp.toString)
            if (!fs.rename(tmp, live))
              throw new IllegalStateException(
                s"vacuum: feed retention rewrite rename failed for $live")
            fs.delete(p, true)
          }
        }
      }
    }
    val versions = listVersions
    val snaps = versions.takeRight(retainLast).map(snapshotAt)
    val referenced = snaps.flatMap(_.files).map(f => new Path(root, f.path).toUri.getPath).toSet
    val refManifests = snaps.flatMap(_.manifests).map(m => new Path(root, m).toUri.getPath).toSet
    versions.dropRight(retainLast).foreach { v =>
      fs.delete(new Path(snapDir, f"v$v%08d.json"), false)
    }
    snapCache.clear()
    val mDir = new Path(root, "manifests")
    if (fs.exists(mDir)) fs.listStatus(mDir).foreach { st =>
      if (!refManifests.contains(st.getPath.toUri.getPath)) fs.delete(st.getPath, false)
    }
    val dataDir = new Path(root, "data")
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
    if (fs.exists(dataDir)) walk(dataDir)
  }
}
