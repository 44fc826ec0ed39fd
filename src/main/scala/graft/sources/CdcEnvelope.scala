package graft.sources

import graft.model.ChangeLog
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Debezium-style CDC envelope codec: JSON-lines binlog/WAL envelopes
 * <-> the engine's canonical change-event rows ([[ChangeLog.schema]]).
 *
 * The wire shape follows the de-facto CDC interchange format (Debezium's
 * `{payload: {before, after, op, ts_ms, source: {lsn, ...}}}` envelope;
 * Canal/Maxwell carry the same fields under different names), which is
 * the JSON rendering of exactly the record model the reference tails from
 * its stream sources: primary key + op type + sequence id
 * (`otsstreamreader/.../core/MultiVerModeRecordSender.java:11-28`,
 * per-shard seq id `SingleVerAndUpOnlyModeRecordSender.java:94-100`).
 * DataX parses those wire records row-at-a-time in the reader plugin;
 * here the whole codec is ONE codegen-fused projection per direction —
 * `from_json` with an EXPLICIT schema (never schema inference, which
 * would buy a pre-pass over 100 TB of text) and pure column expressions
 * for the op/key/shard mapping. No UDFs, no RDDs, nothing leaves
 * whole-stage codegen, so at scale the parse rides the text scan task.
 *
 * Fault tolerance: a line that is not valid JSON (or lacks the payload)
 * parses to all-null columns, which the existing dirty-record router
 * quarantines as `null_or_empty_doc_id` ([[graft.apply.DirtyRouter
 * .invalidReason]]); an unmapped op code survives as null and is
 * quarantined as `unknown_op`. Malformed wire data therefore flows into
 * the reference's errorLimit semantics instead of failing the stream.
 *
 * Schema evolution: JSON is self-describing, so pre-evolution envelopes
 * simply omit `lang` (and carry int-sized `n_tok`); parsing under the
 * evolved payload schema yields `lang = null` for them — the same
 * additive contract the parquet log path has, and the downstream
 * [[graft.apply.BatchApply]] evolution detection applies unchanged.
 */
object CdcEnvelope {

  /** Row payload carried in `before`/`after` — the EVOLVED user schema
    * (absent fields parse to null, see evolution note above). */
  val payloadSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("tokens", ArrayType(IntegerType)),
    StructField("n_tok", LongType),
    StructField("source", StringType),
    StructField("lang", StringType)))

  /** Envelope schema (Debezium wire shape). `source.shard` is the
    * transport partition (Debezium rides Kafka partitions keyed by PK
    * hash — the analog of the reference's shard id); optional, see
    * [[parse]]. */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("payload", StructType(Seq(
      StructField("before", payloadSchema),
      StructField("after", payloadSchema),
      StructField("op", StringType),
      StructField("ts_ms", LongType),
      StructField("source", StructType(Seq(
        StructField("lsn", LongType),
        StructField("shard", IntegerType),
        StructField("table", StringType)))))))))

  /** Wire op code -> engine op: Debezium `c`(create) and `r`(snapshot
    * read) are both keyed inserts under MERGE semantics, `u` update,
    * `d` delete. Anything else -> null (quarantined downstream). */
  private def mapOp(op: Column): Column =
    when(op === "c" || op === "r", "I")
      .when(op === "u", "U")
      .when(op === "d", "D")
      .otherwise(lit(null).cast(StringType))

  /**
   * Parse a DataFrame of envelope lines (column `value`: one JSON
   * envelope per line — the shape `spark.read/readStream.text` yields)
   * into canonical [[ChangeLog.schema]] rows.
   *
   * Shard resolution: the carried transport partition
   * (`payload.source.shard`) when present, else derived shard-sticky
   * from the key (`pmod(xxhash64(doc_id), nShards)`) — the same
   * key-stickiness the generator guarantees, so per-shard lsn
   * monotonicity is preserved either way. Key resolution: `after` for
   * upserts, `before` for deletes (Debezium deletes carry the key only
   * in `before`).
   */
  def parse(lines: DataFrame, nShards: Int = 64): DataFrame = {
    val p = from_json(col("value"), envelopeSchema).getField("payload")
    // stage the parsed struct ONCE per row: every output column reads
    // the same `e` attribute instead of re-parsing the JSON per field
    lines.select(p.as("e")).select(
      coalesce(
        col("e.source.shard"),
        pmod(xxhash64(coalesce(col("e.after.doc_id"), col("e.before.doc_id"))),
          lit(nShards.toLong)).cast(IntegerType)).as("shard"),
      col("e.source.lsn").as("lsn"),
      mapOp(col("e.op")).as("op"),
      coalesce(col("e.after.doc_id"), col("e.before.doc_id")).as("doc_id"),
      col("e.after.tokens").as("tokens"),
      col("e.after.n_tok").as("n_tok"),
      col("e.after.source").as("source"),
      col("e.after.lang").as("lang"))
  }

  /**
   * Render canonical change rows as envelope JSON lines (column
   * `value`) — the inverse of [[parse]] (round-trip spec-asserted).
   * Gives the engine a standard CDC EXPORT surface: `readChanges` ->
   * `toEnvelope` -> any text sink publishes a lake table's change feed
   * in the interchange format downstream non-graft consumers speak.
   * Deletes carry the key in `before` and a null `after`; upserts the
   * reverse — exactly Debezium's contract. `ignoreNullFields=false`
   * keeps explicit nulls on the wire so a parse round-trip is
   * byte-stable (and pre-evolution rows still just omit nothing they
   * carry — absent vs null is indistinguishable to [[parse]]).
   */
  def toEnvelope(events: DataFrame, table: String = "docs"): DataFrame = {
    // branches are cast to the exact payloadSchema so when/otherwise
    // types reconcile regardless of the input's array containsNull flag
    val key = struct(
      col("doc_id"),
      lit(null).cast(ArrayType(IntegerType)).as("tokens"),
      lit(null).cast(LongType).as("n_tok"),
      lit(null).cast(StringType).as("source"),
      lit(null).cast(StringType).as("lang")).cast(payloadSchema)
    val row = struct(col("doc_id"), col("tokens"), col("n_tok"), col("source"),
      col("lang")).cast(payloadSchema)
    val nul = lit(null).cast(payloadSchema)
    val payload = struct(
      when(col("op") === "D", key).otherwise(nul).as("before"),
      when(col("op") =!= "D", row).otherwise(nul).as("after"),
      when(col("op") === "I", "c").when(col("op") === "U", "u").otherwise("d").as("op"),
      (col("lsn") * 1000L).as("ts_ms"),
      struct(col("lsn"), col("shard"), lit(table).as("table")).as("source"))
    events.select(to_json(struct(payload.as("payload")),
      Map("ignoreNullFields" -> "false")).as("value"))
  }

  /** Export a table's change feed as FULL Debezium envelopes — real
    * `before` blocks, not the key-only minimum [[toEnvelope]] emits:
    * the feed's canonical rows supply op/lsn/shard, and the pre-image
    * delta feed ([[graft.lake.LakeTable.readDeltaChanges]],
    * `writer.preimages`) supplies both images — each key's replaced
    * row (`sign = -1`) as `before` and the row the merge installed
    * (`sign = +1`) as `after`, each with every column of the table's
    * current schema at its type — exactly what a downstream IVM-style
    * consumer needs to maintain state without reading this table. Both
    * feeds are batch-id-pruned and fenced at the same pinned batch.
    *
    * `before` is null for inserts (nothing replaced). A change that
    * LOST the lsn merge changed nothing, so the delta feed holds no
    * row for it: its envelope goes out with op intact and NO images,
    * never the stale payload as `after`. Requires pre-image coverage
    * of the range — fails loudly otherwise rather than exporting
    * silently-keyless deletes. */
  def exportEnvelopes(tbl: graft.lake.LakeTable, sinceBatchId: Long,
      table: String = "docs"): DataFrame = {
    val hi = tbl.current.batchId
    require(tbl.deltaFeedCovers(sinceBatchId, hi),
      s"full-preimage export needs writer.preimages over batches > $sinceBatchId — " +
        "replay with preimages=true (or use toEnvelope for the key-only minimum)")
    // the delta feed keyed by (batch_id, doc_id, sign) and probed twice
    // per change. The key is one struct so the sign stays a join key
    // rather than a filter pushed into each side: both probes then read
    // the same keyed side, and Spark scans and broadcasts it once.
    val images = tbl.readDeltaChanges(sinceBatchId, hi).select(
      struct(col("batch_id"), col("doc_id"), col("sign")).as("k"),
      struct(tbl.current.schema.fieldNames.toIndexedSeq.map(col): _*).as("img"))
    val changes = tbl.readChanges(sinceBatchId, hi)
    def probe(side: String, sign: Int): Column = col(s"$side.k") ===
      struct(changes("batch_id"), changes("doc_id"), lit(sign).as("sign"))
    val payload = struct(
      col("pre.img").as("before"),
      col("post.img").as("after"),
      when(col("op") === "I", "c").when(col("op") === "U", "u").otherwise("d").as("op"),
      (col("lsn") * 1000L).as("ts_ms"),
      struct(col("lsn"), col("shard"), lit(table).as("table")).as("source"))
    changes
      .join(images.as("pre"), probe("pre", -1), "left_outer")
      .join(images.as("post"), probe("post", 1), "left_outer")
      .select(to_json(struct(payload.as("payload")),
        Map("ignoreNullFields" -> "false")).as("value"))
  }
}
