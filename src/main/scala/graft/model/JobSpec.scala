package graft.model

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.jackson.JsonMethods

/** SPI for pluggable multi-record transformers — the engine's answer to
  * the reference's ComplexTransformer
  * (`transformer/src/main/java/com/alibaba/datax/transformer/ComplexTransformer.java`,
  * loaded reflectively by `TransformerRegistry.java:41-108` from a
  * class name in the job config). Where dx_expr covers anything a row
  * expression can say, an implementation of this trait owns the whole
  * DataFrame — typically a `mapPartitions` with per-partition init
  * (codec handles, dictionaries), the shape `Multimodal.decode`
  * demonstrates. Bound in the job spec as
  * `{"name": "custom", "class": "<fqcn>"}`; the class needs a no-arg
  * constructor. */
trait RecordsTransformer {
  def transform(df: DataFrame): DataFrame
}

/**
 * Job specification — the engine's answer to the reference's job JSON
 * (`core/src/main/job/job.json`: `{job: {setting: {speed, errorLimit},
 * content: [{reader, writer, transformer[]}]}}`, walk-through at
 * `dataxPluginDev.md:216-305`), collapsed to the shapes this engine
 * actually runs: one change-log reader, one lake-table writer, an
 * optional dx_* transformer chain, error limits and a rate cap.
 *
 * Example:
 * {{{
 * {
 *   "reader":  { "logDir": "/data/binlog" },   // or { "table": "/data/upstream_store" }
 *                                              // to tail that table's change feed
 *   "writer":  { "tableDir": "/data/doc_store", "checkpointDir": "/data/cp",
 *                "nBuckets": 256, "saltBuckets": 1 },
 *   "transformers": [
 *     {"name": "dx_filter", "column": "source", "op": "=", "value": "spam"},
 *     {"name": "dx_pad", "column": "lang", "padTo": "l", "length": 5, "pad": "_"},
 *     {"name": "dx_expr", "column": "source", "expr": "lower(trim(source))"}
 *   ],
 *   "speed":      { "maxFilesPerTrigger": 64, "maxBytesPerTrigger": 134217728,
 *                   "eventsPerSecond": 500000 },
 *   "errorLimit": { "record": 0, "percentage": 0.01,
 *                   "quarantineDir": "/data/dirty" }
 * }
 * }}}
 *
 * Note on quarantine layout: dirty rows land under
 * `quarantineDir/batch_id=N/` partition directories (idempotent
 * overwrite per retried batch). Jobs quarantining to a directory that
 * holds pre-round-2 FLAT dirty files should point at a fresh
 * `quarantineDir` (or move the old files into a `batch_id=` subdir) —
 * parquet partition discovery requires one consistent layout.
 */
final case class JobSpec(
    logDir: String,
    /** `reader.assumeOrdered`: declare that micro-batches arrive in
      * per-shard lsn order (an ordered queue source), enabling the
      * watermark input fence in BatchApply. The file source makes no
      * such promise, so this is strictly opt-in; the per-row lsn guard
      * stays the unconditional correctness net either way. */
    assumeOrdered: Boolean = false,
    /** `reader.format`: wire decoding of the change log — "parquet"
      * (typed segments, the default) or "debezium" (JSON-lines CDC
      * envelopes decoded by [[graft.sources.CdcEnvelope]]). */
    logFormat: String = "parquet",
    tableDir: String,
    checkpointDir: String,
    nBuckets: Int,
    /** `writer.saltBuckets`: accepted for older specs; it no longer
      * changes the plan ([[graft.apply.BatchApply.canonicalize]]). */
    saltBuckets: Int,
    maxFilesPerTrigger: Int,
    /** flow-control caps — the DataX channel byte/record limits
      * (`core/.../channel/Channel.java:176-239`): bytes admitted per
      * micro-batch (file-source `maxBytesPerTrigger`; -1 = off) and a
      * sustained events/sec ceiling enforced by pacing between batches
      * (-1 = off). */
    maxBytesPerTrigger: Long = -1L,
    eventsPerSecond: Long = -1L,
    errorRecordLimit: Long,
    errorPercentageLimit: Double,
    quarantineDir: Option[String],
    transformers: Seq[TransformerSpec],
    /** merge-on-read knobs: change fraction below which a touched bucket
      * takes a delta overlay instead of COW, and the max delta chain
      * length before a COW folds it. */
    deltaThreshold: Double = graft.apply.BatchApply.DefaultDeltaThreshold,
    maxDeltaChain: Int = graft.apply.BatchApply.DefaultMaxDeltaChain,
    /** `writer.changelog`: emit a change-data feed (one parquet
      * partition of canonical per-key changes per applied batch) so the
      * table doubles as a CDC SOURCE for downstream jobs — read back
      * incrementally via [[graft.lake.LakeTable.readChanges]]. */
    changelog: Boolean = false,
    /** `writer.preimages`: with the changelog on, ALSO emit the signed
      * pre/post-image delta feed per batch
      * ([[graft.lake.LakeTable.readDeltaChanges]]) — what makes a
      * downstream `ivm` sync a pure feed aggregation with zero table
      * reads. Costs one extra resolved read of the touched buckets per
      * batch. */
    preimages: Boolean = false,
    /** arbitrary SQL run before/after the replay (DataX preSql/postSql,
      * `CommonRdbmsWriter.java:88-166` — e.g. register views, swap a
      * shadow table). */
    preSql: Seq[String] = Nil,
    postSql: Seq[String] = Nil,
    /** Post-replay table maintenance (`maintenance` block): re-bucket to
      * a new count (bucket-count evolution; -1 = off), fold deltas /
      * purge tombstones, delete unreferenced files. Runs after postSql,
      * in that order (rebucket already folds, so compact is then cheap). */
    rebucketTo: Int = -1,
    compactAfter: Boolean = false,
    vacuumAfter: Boolean = false,
    /** JDBC connector surface (`reader.jdbc` / `writer.jdbc` blocks) —
      * the CommonRdbmsReader/Writer analog, mapped onto Spark's jdbc
      * source. Mutually exclusive with the change-log reader path; see
      * [[graft.sources.Jdbc]]. */
    jdbcReader: Option[graft.sources.Jdbc.JdbcReaderSpec] = None,
    jdbcWriter: Option[graft.sources.Jdbc.JdbcWriterSpec] = None,
    /** `writer.file` block: CSV/text/parquet file sink with the
      * reference's three write modes (see [[FileWriterSpec]]). */
    fileWriter: Option[FileWriterSpec] = None,
    /** `dedup` block: near-dup admission against a persisted LSH index
      * (see [[DedupSpec]] / [[graft.operators.LshIndex]]). */
    dedup: Option[DedupSpec] = None,
    /** `ivm` block: sync a maintained grouped aggregate from the change
      * feed after the run ([[IvmSpec]] / [[graft.lake.Ivm]]); requires
      * `writer.changelog` so the feed the sync reads actually exists. */
    ivm: Option[IvmSpec] = None,
    /** dryRun / preCheck mode (`JobContainer.java:100-107` analog):
      * validate the spec, source schema, table format and transformer
      * chain with ZERO writes. Also settable via `graft.Main --dryRun`. */
    dryRun: Boolean = false) {

  /** Compose the transformer chain into one DataFrame function (the
    * analog of BufferedRecordTransformerExchanger's per-record chain). */
  def transformFn: DataFrame => DataFrame =
    df => transformers.foldLeft(df)((d, t) => t(d))
}

/** `writer.file` block — the txt/ftp/oss file-writer analog (reference
  * `txtfilewriter/.../TxtFileWriter.java:95-130`): a CSV/JSON/parquet
  * sink whose three reference write modes map onto Spark SaveModes —
  * `truncate` → Overwrite, `append` → Append, `nonConflict` →
  * ErrorIfExists (fail when output already exists). `header`,
  * `fieldDelimiter` and `compression` mirror the reference's
  * unstructured-storage writer options. */
final case class FileWriterSpec(
    path: String,
    format: String = "csv",
    writeMode: String = "append",
    header: Boolean = true,
    fieldDelimiter: String = ",",
    compression: Option[String] = None) {

  def saveMode: SaveMode = writeMode match {
    case "truncate" => SaveMode.Overwrite
    case "append" => SaveMode.Append
    case "nonConflict" => SaveMode.ErrorIfExists
    case other => throw new IllegalArgumentException(
      s"unknown writeMode '$other' (truncate | append | nonConflict)")
  }

  def save(df: DataFrame): Unit = {
    val w = df.write.mode(saveMode)
    format match {
      case "csv" =>
        val o = w.option("header", header).option("sep", fieldDelimiter)
        compression.fold(o)(c => o.option("compression", c)).csv(path)
      case "json" =>
        compression.fold(w)(c => w.option("compression", c)).json(path)
      case "parquet" => w.parquet(path)
      case other => throw new IllegalArgumentException(s"unknown file format '$other'")
    }
  }
}

/** `dedup` block — near-dup ADMISSION during replay, against the
  * persisted MinHash-LSH index at `indexDir`
  * ([[graft.operators.LshIndex]]): each micro-batch's insert/update
  * docs probe the index, events of docs near-duplicating an
  * already-indexed doc are dropped (audit rows under
  * `indexDir/dropped/batch_id=N/`), and admitted docs are indexed
  * after the batch's lake commit. `n`/`k`/`bands` are BUILD parameters
  * (used only when the first batch creates the index); probes always
  * follow the index's own meta descriptor. */
/** `ivm` block: keep a downstream grouped aggregate in sync from the
  * table's change feed after each job run ([[graft.lake.Ivm]] — the
  * materialized-view consumer of `writer.changelog`). `sum` is any SQL
  * expression castable to long. */
final case class IvmSpec(
    aggDir: String,
    grp: String = "source",
    sum: String = "n_tok",
    /** state-bucket count for a NEW store (the per-sync rewrite unit —
      * [[graft.lake.Ivm.DefaultStateBuckets]]); existing stores keep
      * their built count. */
    stateBuckets: Int = graft.lake.Ivm.DefaultStateBuckets,
    /** fence the view store for this run's writer (the
      * [[graft.lake.WriterLease]] one-way opt-in, like `dedup.lease`). */
    lease: Boolean = false)

final case class DedupSpec(
    indexDir: String,
    threshold: Double = 0.8,
    n: Int = 3,
    k: Int = 16,
    bands: Int = 4,
    maxBucketSize: Int = 1000,
    /** Fence the index for this run's writer (multi-writer safety —
      * [[graft.lake.WriterLease]]); opting in makes the index refuse
      * lease-less mutation from then on. */
    lease: Boolean = false,
    /** `dedup.compactEvery`: fold the index's LSM tail into the
      * partitioned base every N applied batches, INSIDE the replay's
      * serial batch loop (safe: one replay owns its index, and the
      * loop is the single mutation window [[graft.operators.LshIndex
      * .compact]] requires). 0 = off — compaction is then the
      * operator's manual/maintenance-window call, and a long replay
      * accretes one tail file set per batch until it runs. */
    compactEvery: Int = 0)

/** One dx_* transformer binding (name + pre-bound parameters — the
  * analog of TransformerUtil.buildTransformerInfo). */
final case class TransformerSpec(
    name: String,
    column: String,
    params: Map[String, String]) {

  import graft.functions.Transformers._

  /** Schema-INDEPENDENT validation — everything [[apply]] would reject
    * that does not require knowing the input columns: name dispatch,
    * required-parameter presence, numeric parameter parse, custom-class
    * loadability. preCheck calls this when the source schema is
    * unavailable without a live connection (jdbc), so a dry run still
    * catches `dx_bogus` or a dx_substr missing `start` up front. */
  def preValidate(): Unit = name match {
    case "custom" =>
      val cls = params.getOrElse("class",
        throw new IllegalArgumentException("custom transformer needs a 'class' parameter"))
      val inst =
        try Class.forName(cls).getDeclaredConstructor().newInstance()
        catch { case e: ReflectiveOperationException =>
          throw new IllegalArgumentException(s"cannot instantiate custom transformer '$cls'", e) }
      require(inst.isInstanceOf[RecordsTransformer],
        s"$cls does not implement graft.model.RecordsTransformer")
    case "dx_expr" => params("expr"): Unit
    case "dx_substr" => params("start").toInt; params("length").toInt; ()
    case "dx_pad" => params("padTo"); params("length").toInt; params("pad"); ()
    case "dx_replace" => params("start").toInt; params("length").toInt; params("replace"); ()
    case "dx_filter" => params("op"); params("value"); ()
    case other => throw new IllegalArgumentException(s"unknown transformer '$other'")
  }

  def apply(df: DataFrame): DataFrame = name match {
    // pluggable multi-record transformer (ComplexTransformer SPI
    // analog): class name from the spec, resolved reflectively to a
    // [[RecordsTransformer]] owning the whole DataFrame
    case "custom" =>
      val cls = params.getOrElse("class",
        throw new IllegalArgumentException("custom transformer needs a 'class' parameter"))
      val inst =
        try Class.forName(cls).getDeclaredConstructor().newInstance()
        catch { case e: ReflectiveOperationException =>
          throw new IllegalArgumentException(s"cannot instantiate custom transformer '$cls'", e) }
      inst match {
        case t: RecordsTransformer => t.transform(df)
        case other => throw new IllegalArgumentException(
          s"$cls (${other.getClass.getName}) does not implement graft.model.RecordsTransformer")
      }
    // arbitrary-SQL-expression transform — the engine's answer to
    // dx_groovy / the ComplexTransformer SPI (reference
    // `GroovyTransformer.java:25-88`): instead of a per-record script
    // engine, any Spark SQL expression over the row's columns, which
    // stays inside Catalyst codegen. `column` names the output column
    // (may overwrite an existing one).
    case "dx_expr" =>
      df.withColumn(column, org.apache.spark.sql.functions.expr(params("expr")))
    case "dx_substr" =>
      df.withColumn(column, dxSubstr(col(column), params("start").toInt, params("length").toInt))
    case "dx_pad" =>
      df.withColumn(column, dxPad(col(column), params("padTo"), params("length").toInt, params("pad")))
    case "dx_replace" =>
      df.withColumn(column, dxReplace(col(column), params("start").toInt,
        params("length").toInt, params("replace")))
    case "dx_filter" =>
      dxFilter(df, col(column), params("op"), params("value"))
    case other => throw new IllegalArgumentException(s"unknown transformer '$other'")
  }
}

object JobSpec {

  /** `maintenance.rebucket = "auto"` sentinel: pick the bucket count
    * from the table's live row count ([[graft.lake.LakeTable
    * .suggestBuckets]]) and rebucket only when it differs. */
  val RebucketAuto: Int = -2

  def parse(json: String): JobSpec = {
    implicit val fmts: Formats = DefaultFormats
    val j = JsonMethods.parse(json)
    def str(v: JValue, d: => String = throw new IllegalArgumentException("missing field")): String =
      v match { case JString(s) => s; case JNothing => d; case x => x.extract[String] }
    def num(v: JValue, d: Long): Long = v match { case JNothing => d; case x => x.extract[Long] }
    def dbl(v: JValue, d: Double): Double = v match { case JNothing => d; case x => x.extract[Double] }

    val transformers = (j \ "transformers") match {
      case JArray(ts) => ts.map { t =>
        val all = t.asInstanceOf[JObject].obj.collect {
          case (k, JString(s)) => k -> s
          case (k, JInt(i)) => k -> i.toString
          case (k, JDouble(d)) => k -> d.toString
        }.toMap
        // only the class-loaded multi-record transformer is column-less;
        // the dx_* scalar transformers fail at parse time without one
        // (matching the reference's loud missing-parameter error)
        val column =
          if (all("name") == "custom") all.getOrElse("column", "")
          else all.getOrElse("column", throw new IllegalArgumentException(
            s"transformer ${all("name")} requires a 'column' field"))
        TransformerSpec(all("name"), column, all - "name" - "column")
      }
      case _ => Nil
    }

    val jdbcReader = (j \ "reader" \ "jdbc") match {
      case o: JObject => Some(graft.sources.Jdbc.JdbcReaderSpec(
        url = str(o \ "jdbcUrl"),
        table = (o \ "table") match { case JString(s) => Some(s); case _ => None },
        querySql = (o \ "querySql") match { case JString(s) => Some(s); case _ => None },
        user = (o \ "username") match { case JString(s) => Some(s); case _ => None },
        password = (o \ "password") match { case JString(s) => Some(s); case _ => None },
        driver = (o \ "driver") match { case JString(s) => Some(s); case _ => None },
        columns = (o \ "column") match {
          case JArray(xs) => xs.collect { case JString(s) => s }; case _ => Nil
        },
        where = (o \ "where") match { case JString(s) => Some(s); case _ => None },
        splitPk = (o \ "splitPk") match { case JString(s) => Some(s); case _ => None },
        lowerBound = (o \ "lowerBound") match { case JNothing => None; case v => Some(v.extract[Long]) },
        upperBound = (o \ "upperBound") match { case JNothing => None; case v => Some(v.extract[Long]) },
        numPartitions = num(o \ "numPartitions", 4).toInt,
        fetchSize = num(o \ "fetchSize", 1024).toInt))
      case _ => None
    }
    val jdbcWriter = (j \ "writer" \ "jdbc") match {
      case o: JObject => Some(graft.sources.Jdbc.JdbcWriterSpec(
        url = str(o \ "jdbcUrl"),
        table = str(o \ "table"),
        user = (o \ "username") match { case JString(s) => Some(s); case _ => None },
        password = (o \ "password") match { case JString(s) => Some(s); case _ => None },
        driver = (o \ "driver") match { case JString(s) => Some(s); case _ => None },
        writeMode = str(o \ "writeMode", "insert"),
        batchSize = num(o \ "batchSize", 2048).toInt))
      case _ => None
    }

    val fileWriter = (j \ "writer" \ "file") match {
      case o: JObject => Some(FileWriterSpec(
        path = str(o \ "path"),
        format = str(o \ "format", "csv"),
        writeMode = str(o \ "writeMode", "append"),
        header = (o \ "header") != JBool(false),
        fieldDelimiter = str(o \ "fieldDelimiter", ","),
        compression = (o \ "compression") match { case JString(s) => Some(s); case _ => None }))
      case _ => None
    }

    JobSpec(
      // `reader.table` = consume another LakeTable's change feed (the
      // job-spec surface of CDC chaining): the feed rows carry the
      // ChangeLog schema, so it is exactly a binlog dir to the replay.
      // Conflicting sources fail loudly rather than silently preferring one.
      logDir = ((j \ "reader" \ "table"), (j \ "reader" \ "logDir")) match {
        case (JNothing, ld) =>
          if (ld != JNothing && jdbcReader.isDefined)
            throw new IllegalArgumentException(
              "reader.logDir and reader.jdbc are mutually exclusive — pick one source")
          str(j \ "reader" \ "logDir", if (jdbcReader.isDefined) "" else
            throw new IllegalArgumentException("reader needs logDir, table or jdbc block"))
        case (_, ld) if ld != JNothing =>
          throw new IllegalArgumentException(
            "reader.table and reader.logDir are mutually exclusive — pick one source")
        case _ if jdbcReader.isDefined =>
          // Main's jdbcReader branch takes precedence over replay, so a
          // spec carrying both would silently ignore the table source —
          // same loud-failure contract as the logDir conflict above.
          throw new IllegalArgumentException(
            "reader.table and reader.jdbc are mutually exclusive — pick one source")
        case _ =>
          str(j \ "reader" \ "table") // Replay tails a table root's change feed
      },
      assumeOrdered = (j \ "reader" \ "assumeOrdered") == JBool(true),
      logFormat = str(j \ "reader" \ "format", "parquet") match {
        case f @ ("parquet" | "debezium") => f
        case other => throw new IllegalArgumentException(
          s"reader.format must be 'parquet' or 'debezium', got '$other'")
      },
      tableDir = str(j \ "writer" \ "tableDir",
        if (jdbcWriter.isDefined || fileWriter.isDefined) ""
        else throw new IllegalArgumentException("writer needs tableDir, jdbc or file block")),
      checkpointDir = str(j \ "writer" \ "checkpointDir",
        if (jdbcReader.isDefined || jdbcWriter.isDefined || fileWriter.isDefined) ""
        else throw new IllegalArgumentException("writer.checkpointDir required for replay jobs")),
      nBuckets = num(j \ "writer" \ "nBuckets", 64).toInt,
      saltBuckets = num(j \ "writer" \ "saltBuckets", 1).toInt,
      maxFilesPerTrigger = num(j \ "speed" \ "maxFilesPerTrigger", Int.MaxValue).toInt,
      maxBytesPerTrigger = num(j \ "speed" \ "maxBytesPerTrigger", -1L),
      eventsPerSecond = num(j \ "speed" \ "eventsPerSecond", -1L),
      errorRecordLimit = num(j \ "errorLimit" \ "record", -1L),
      errorPercentageLimit = dbl(j \ "errorLimit" \ "percentage", Double.NaN),
      quarantineDir = (j \ "errorLimit" \ "quarantineDir") match {
        case JString(s) => Some(s); case _ => None
      },
      transformers = transformers,
      deltaThreshold = dbl(j \ "writer" \ "deltaThreshold",
        graft.apply.BatchApply.DefaultDeltaThreshold),
      maxDeltaChain = num(j \ "writer" \ "maxDeltaChain",
        graft.apply.BatchApply.DefaultMaxDeltaChain.toLong).toInt,
      changelog = (j \ "writer" \ "changelog") == JBool(true),
      preimages = (j \ "writer" \ "preimages") == JBool(true),
      preSql = sqlList(j \ "writer" \ "preSql"),
      postSql = sqlList(j \ "writer" \ "postSql"),
      rebucketTo = (j \ "maintenance" \ "rebucket") match {
        case JString("auto") => JobSpec.RebucketAuto
        case v => num(v, -1L).toInt
      },
      compactAfter = (j \ "maintenance" \ "compact") == JBool(true),
      vacuumAfter = (j \ "maintenance" \ "vacuum") == JBool(true),
      jdbcReader = jdbcReader,
      jdbcWriter = jdbcWriter,
      fileWriter = fileWriter,
      dedup = (j \ "dedup") match {
        case o: JObject => Some(DedupSpec(
          indexDir = str(o \ "indexDir"),
          threshold = dbl(o \ "threshold", 0.8),
          n = num(o \ "n", 3).toInt,
          k = num(o \ "k", 16).toInt,
          bands = num(o \ "bands", 4).toInt,
          maxBucketSize = num(o \ "maxBucketSize", 1000).toInt,
          lease = (o \ "lease") == JBool(true),
          compactEvery = num(o \ "compactEvery", 0).toInt))
        case _ => None
      },
      ivm = (j \ "ivm") match {
        case o: JObject =>
          if ((j \ "writer" \ "changelog") != JBool(true))
            throw new IllegalArgumentException(
              "ivm requires writer.changelog: true — the maintained view syncs FROM the change feed")
          Some(IvmSpec(
            aggDir = str(o \ "aggDir"),
            grp = str(o \ "grp", "source"),
            sum = str(o \ "sum", "n_tok"),
            stateBuckets = num(o \ "stateBuckets",
              graft.lake.Ivm.DefaultStateBuckets).toInt,
            lease = (o \ "lease") == JBool(true)))
        case _ => None
      },
      dryRun = (j \ "dryRun") == JBool(true) || (j \ "setting" \ "dryRun") == JBool(true))
  }

  private def sqlList(v: JValue): Seq[String] = v match {
    case JArray(xs) => xs.collect { case JString(s) => s }
    case JString(s) => Seq(s)
    case _ => Nil
  }

  private val SensitiveKey = "(?i).*(password|accesskey|secret|token).*".r

  /** Mask the value of every JSON field whose NAME looks sensitive
    * (`*password*`, `*accessKey*`, `*secret*`, `*token*`) — the analog
    * of the reference's config masking before any logging
    * (`core/.../Engine.java:110-120` filters keys ending
    * password/accessKey). Applied to anything the engine prints or
    * persists about a job spec; parsing keeps the real values. */
  def maskSensitive(json: String): String = {
    def walk(v: JValue): JValue = v match {
      case JObject(fields) => JObject(fields.map {
        case (k, _: JString) if SensitiveKey.matches(k) => k -> JString("******")
        case (k, child) => k -> walk(child)
      })
      case JArray(xs) => JArray(xs.map(walk))
      case x => x
    }
    JsonMethods.pretty(walk(JsonMethods.parse(json)))
  }
}
