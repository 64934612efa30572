package graft.events

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch analog of the reference's change-stream pipeline.
  *
  * The reference (mrcon/src/mongo/connector.rs:127-167) watches a MongoDB
  * collection and emits `ChangeStreamEvent` documents — operationType, ns
  * (db/coll), documentKey, fullDocument, clusterTime, and a resume token —
  * which it serializes to JSON and publishes to a queue
  * (mrcon/src/rabbitmq/amqp.rs:95-110). Here the driver's `events` table
  * stands in for the change feed: each row becomes one change event with a
  * deterministic envelope, so the whole pipeline is a narrow projection that
  * scales linearly (no shuffle at all for normalize/publish; window shuffles
  * partition by entity key for pre/post images).
  */
object ChangeEvents {

  /** event_type → Mongo operationType (documented, deterministic mapping). */
  def operationType(eventType: Column): Column =
    when(eventType.isin("signup", "purchase"), "insert")
      .when(eventType.isin("click", "view"), "update")
      .otherwise("delete")

  /** JSON document for the row, built with deterministic decimal formatting
    * so the DuckDB oracle reproduces it byte-for-byte (doubles are cast to
    * decimal(18,2) before stringification on both sides). Nullable fields
    * render as JSON null — a bare `concat` would null the WHOLE document
    * when one field is missing (the json feed's schema allows null
    * props/value), and a null payload is what a queue consumer can least
    * parse. Resolved against the attached plan (unqualified columns), like
    * any reusable Column.
    */
  def fullDocumentJson: Column = {
    def jsonNull(c: Column) = coalesce(c, lit("null"))
    concat(
      lit("{\"event_id\":"), jsonNull(col("event_id").cast("string")),
      lit(",\"user_id\":"), jsonNull(col("user_id").cast("string")),
      lit(",\"event_type\":"),
      jsonNull(concat(lit("\""), col("event_type"), lit("\""))),
      lit(",\"value\":"), jsonNull(col("value").cast("decimal(18,2)").cast("string")),
      lit(",\"props\":"), jsonNull(col("props")),
      lit("}")
    )
  }

  /** The resume token of a feed offset: its zero-padded hex, the shape of
    * a `_data` hex resume token. Fixed width, so tokens compare as strings
    * in offset order.
    */
  def resumeToken(offset: Column): Column = format_string("%016x", offset)

  /** The change-event envelope (connector.rs:145-153 ChangeStreamEvent
    * fields) of an event row, `event_id` aside: the one projection the
    * batch [[normalize]] and the stream's `ChangeStreamJob.toChangeEvents`
    * share. `clusterTime` is the row's event time as a timestamp, which the
    * parquet table and the JSON feed store differently.
    */
  def envelope(db: String, coll: String, clusterTime: Column): Seq[Column] = Seq(
    resumeToken(col("event_id")).as("resume_token"),
    operationType(col("event_type")).as("operation_type"),
    lit(db).as("ns_db"),
    lit(coll).as("ns_coll"),
    col("user_id").as("document_key"),
    fullDocumentJson.as("full_document"),
    clusterTime.as("cluster_time"))

  /** A1 — normalize the event feed to the change-event envelope. Narrow,
    * shuffle-free; the ORDER BY exists only for deterministic verification
    * output.
    */
  def normalize(spark: SparkSession, dir: String, db: String = "test", coll: String = "testcoll"): DataFrame =
    Tables.events(spark, dir)
      .select(envelope(db, coll, col("ts")) :+ col("event_id"): _*)
      .orderBy("event_id")

  /** A5 — publish payload: the JSON message body the queue sink would send,
    * with its routing queue (= stream name, one queue per collection in the
    * reference; here we route by event_type) and a per-queue delivery tag
    * (the publisher-confirm sequence number). Window shuffles on the queue
    * key only — bounded cardinality, no skew risk at scale.
    */
  def publishPayload(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val byQueue = Window.partitionBy(col("queue")).orderBy(col("event_id"))
    ev.withColumn("queue", concat(lit("stream_"), col("event_type")))
      .withColumn("payload",
        concat(
          lit("{\"operationType\":\""), operationType(col("event_type")),
          // documentKey gets the same null-as-JSON-null guard as every
          // fullDocumentJson field: a bare splice would null the ENTIRE
          // payload for one null user_id — the exact failure mode the
          // fullDocumentJson doc warns about
          lit("\",\"documentKey\":"), coalesce(col("user_id").cast("string"), lit("null")),
          lit(",\"fullDocument\":"), fullDocumentJson,
          lit("}")
        ))
      .withColumn("delivery_tag", row_number().over(byQueue).cast("long"))
      .select("event_id", "queue", "delivery_tag", "payload")
      .orderBy("event_id")
  }

  /** A5b — consumer-side exactly-once: at-least-once delivery means the queue
    * can contain duplicates; dedup by event key keeping the first delivery.
    * Simulated by unioning a redelivered suffix (every 10th event) onto the
    * stream. GroupBy on the event key — hash shuffle, scales linearly.
    */
  def publishDedup(spark: SparkSession, dir: String): DataFrame = {
    val delivered = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), lit(1).as("attempt"))
    val redelivered = delivered
      .where(col("event_id") % 10 === 0)
      .withColumn("attempt", lit(2))
    delivered.unionAll(redelivered)
      .groupBy(col("event_id"))
      .agg(
        min(col("event_type")).as("event_type"),
        count(lit(1)).as("deliveries"),
        min(col("attempt")).as("first_attempt")
      )
      .orderBy("event_id")
  }

  /** A6 — pre/post images (config.rs:7
    * `change_stream_pre_and_post_images`): for each entity (user) the event's
    * full document plus the previous full document for that entity. `lag`
    * over (entity, sequence) — shuffle partitions by user_id, which is the
    * natural high-cardinality key, so this scales to any event volume.
    */
  def prePostImages(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    ev.withColumn("full_document", fullDocumentJson)
      .withColumn("full_document_before_change", lag(col("full_document"), 1).over(byUser))
      .select("event_id", "user_id", "full_document", "full_document_before_change")
      .orderBy("event_id")
  }

  /** A5c — consumer-side payload parsing: what a queue consumer does with
    * the published JSON (e2e.rs:404-411 reads `fullDocument` back out of
    * every delivered message). `from_json` with an explicit schema gives
    * typed columns; scales as a narrow projection.
    */
  def propsExtract(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    // ONE from_json with an explicit (nested) schema parses the payload a
    // single time into typed columns and stays an inline expression the
    // projection evaluates in place; the delivered document embeds the
    // original props object verbatim, so props_k reads from the same parse
    // instead of re-parsing the props column. The earlier json_tuple +
    // get_json_object formulation planned a Generate node — a per-row
    // row-emitting operator that breaks the whole-stage-codegen span
    // around it — plus a second full parse of props; the 2M-row crossover
    // measured that shape 3.7x the DuckDB anchor while every sibling
    // events query crossed below 1x (one parse measures 2.4x faster).
    // `value` extracts as a string deliberately: the payload carries it as
    // a 2dp decimal literal we serialized ourselves, and re-reading the
    // raw token is what the oracle's json_extract_string replays
    // byte-for-byte.
    ev.select(
        col("event_id"),
        from_json(fullDocumentJson,
          org.apache.spark.sql.types.StructType.fromDDL(
            "event_type STRING, value STRING, props STRUCT<k: BIGINT>"))
          .as("doc"))
      .select(
        col("event_id"),
        col("doc.props.k").as("props_k"),
        col("doc.event_type").as("doc_event_type"),
        col("doc.value").as("doc_value_str"))
      .orderBy("event_id")
  }

  /** A8/A5d — apply-changes materialization: fold the change feed into the
    * final per-document state, the operation every CDC consumer ultimately
    * performs (insert/update upserts the fullDocument, a trailing delete
    * removes the key). Ranked window on the document key — one shuffle on
    * the natural high-cardinality key; at warehouse scale this is the
    * incremental MERGE INTO pattern.
    */
  def applyChanges(spark: SparkSession, dir: String): DataFrame =
    applyChangesOf(Tables.events(spark, dir))

  /** [[applyChanges]] over an explicit event frame — the overload that lets
    * a caller fold a feed SLICE (e.g. VersionedSpec seeds a table from a
    * prefix and MERGEs the remainder; the two paths must agree on the same
    * fold, so they share this one definition).
    */
  def applyChangesOf(ev: DataFrame): DataFrame = {
    val byKeyDesc = Window.partitionBy(col("document_key")).orderBy(col("event_id").desc)
    changeSet(ev)
      .withColumn("rn", row_number().over(byKeyDesc))
      .where(col("rn") === 1 && col("operation_type") =!= "delete")
      .select(col("document_key"), col("event_id").as("last_event_id"), col("full_document"))
      .orderBy("document_key")
  }

  /** The per-event change envelope (document_key, event_id, operation_type,
    * full_document) — the shape both [[applyChangesOf]] and
    * [[graft.ops.Versioned.merge]] consume.
    */
  def changeSet(ev: DataFrame): DataFrame =
    ev.select(
      col("user_id").as("document_key"),
      col("event_id"),
      operationType(col("event_type")).as("operation_type"),
      fullDocumentJson.as("full_document"))

  /** C25 — SCD Type 2 history build: fold the change feed into the full
    * VERSIONED dimension — every insert/update becomes a version row with
    * `[valid_from_id, valid_to_id)` bounds in feed order, the open version
    * carries `is_current`, and a delete CLOSES the prior version without
    * emitting one (a deleted key has history but no current row). This is
    * the warehouse-standard complement to [[applyChanges]]: A5d answers
    * "what is the state", this answers "what was the state when" — the
    * as-of dimension an auditable pipeline joins facts against.
    *
    * One shuffle, same key as applyChanges: a single window over
    * (document_key, event_id) computes `lead(event_id)` BEFORE deletes are
    * filtered, so the delete's id becomes the prior version's closing
    * bound exactly as a MERGE-based SCD2 loader would write it.
    * Insert-after-delete reopens the key naturally (the new version's
    * lead is whatever follows). Engine-exact: integer ids, boolean flag,
    * the same byte-pinned full_document JSON as the queue payload.
    */
  def scd2History(spark: SparkSession, dir: String): DataFrame =
    scd2Fold(changeSet(Tables.events(spark, dir)))
      .orderBy("document_key", "valid_from_id")

  /** The SCD2 fold over an explicit change envelope (the [[changeSet]]
    * shape) — shared by the full rebuild ([[scd2History]]) and the
    * incremental path ([[scd2Maintain]]) so the two can never disagree on
    * the versioning rule. Unordered output; callers order for display.
    */
  def scd2Fold(changes: DataFrame): DataFrame = {
    val byKey = Window.partitionBy(col("document_key")).orderBy(col("event_id"))
    changes
      .withColumn("valid_to_id", lead(col("event_id"), 1).over(byKey))
      .where(col("operation_type") =!= "delete")
      .select(col("document_key"), col("event_id").as("valid_from_id"),
        col("valid_to_id"), col("valid_to_id").isNull.as("is_current"),
        col("full_document"))
  }

  /** C25b — INCREMENTAL SCD2 maintenance: fold a new change-feed batch into
    * an EXISTING history table without touching the feed that built it —
    * the nightly/streaming load path every warehouse SCD2 dimension runs,
    * where re-folding the full feed ([[scd2History]]) is a 100 TB rebuild
    * but the batch is megabytes.
    *
    * Requires the standard feed-order precondition: every batch `event_id`
    * exceeds every event id already folded into `history` (change feeds
    * are ordered; [[graft.events.ResumeTokens]] is how the connector
    * guarantees exactly this). Under it, the incremental answer is
    * PROVABLY the full-rebuild answer:
    *
    *  - keys absent from the batch keep their history rows bit-for-bit
    *    (their full-feed window sees no new events);
    *  - an affected key's OPEN version closes at the key's FIRST batch
    *    event id — in the full rebuild that open row's `lead(event_id)` is
    *    exactly that id, whatever the batch op is (update closes it, and a
    *    delete closes it without emitting, both already the lead rule);
    *  - closed versions are immutable (their lead landed long ago);
    *  - the batch's own rows fold with the SAME window rule, confined to
    *    the batch: each row's in-batch lead equals its full-feed lead
    *    because nothing after the batch exists yet, and the batch's first
    *    row per key needs no predecessor — its effect on the predecessor
    *    is the close above.
    *
    * Registered as `scd2_merge` against the FULL-rebuild oracle: the
    * driver's DuckDB compare certifies incremental ≡ rebuild on every run.
    *
    * Scale shape: one window shuffle over the (small) batch plus one
    * key-equi-join of history against the batch's per-key first-id
    * aggregate — no window over the history side at all. On a Versioned
    * table the same delta (closed rows as upserts + new rows as inserts,
    * keyed by (document_key, valid_from_id)) drives [[graft.ops.Versioned.merge]],
    * which rewrites only the files containing affected keys
    * (VersionedSpec pins that composition).
    */
  def scd2Maintain(history: DataFrame, batch: DataFrame): DataFrame = {
    val firstBatch = batch.groupBy(col("document_key"))
      .agg(min(col("event_id")).as("_close_id"))
    // Feed-order precondition GUARD (r16, ADVICE r15): every batch event_id
    // must exceed every id already folded into the key's history — a
    // replayed or out-of-order batch would otherwise silently close open
    // rows at stale ids. Both sides are in hand exactly here (each history
    // row next to its key's first batch id), so the check is two codegen'd
    // comparisons per joined row — no extra pass, no shuffle — and fires as
    // a runtime error instead of corrupting the dimension. valid_to_id is
    // checked too: a trailing delete's id appears only as a close bound.
    val violated = col("_close_id").isNotNull &&
      (col("_close_id") <= col("valid_from_id") ||
        col("_close_id") <= coalesce(col("valid_to_id"), col("_close_id") - 1))
    // ONE left join covers both cases (an inner + anti pair would compute
    // the history side twice): a null _close_id means the key is untouched
    // and the row rides bit-for-bit; a hit means every row of the key ends
    // non-current — the open one (if any) closes at the key's first batch
    // id, closed rows keep their bounds
    val carried = history.join(firstBatch, Seq("document_key"), "left")
      .select(col("document_key"), col("valid_from_id"),
        when(violated, raise_error(format_string(
          "scd2Maintain: feed-order precondition violated for key %s — batch " +
            "event_id %s does not exceed already-folded history ids (row " +
            "valid_from_id %s, valid_to_id %s); the batch is replayed or " +
            "out of order", col("document_key"), col("_close_id"),
          col("valid_from_id"), col("valid_to_id"))))
          .when(col("_close_id").isNull, col("valid_to_id"))
          .otherwise(coalesce(col("valid_to_id"), col("_close_id"))).as("valid_to_id"),
        (col("_close_id").isNull && col("is_current")).as("is_current"),
        col("full_document"))
    carried.unionByName(scd2Fold(batch))
  }

  /** The registered `scd2_merge` query: split the feed at 90% of the id
    * range (one tiny column-pruned scalar agg) — the nightly-load shape,
    * where history dwarfs the batch — rebuild history from the prefix,
    * then [[scd2Maintain]] the batch into it. The oracle is the FULL-feed
    * rebuild SQL, so the driver's hash compare is the incremental ≡
    * rebuild equality, re-certified on every run (OpsSpec additionally
    * pins 25/50/75% splits).
    */
  def scd2Merge(spark: SparkSession, dir: String): DataFrame = {
    val ev = changeSet(Tables.events(spark, dir))
    val b = ev.agg(min(col("event_id")).cast("long"), max(col("event_id")).cast("long")).head()
    val split = b.getLong(0) + (b.getLong(1) - b.getLong(0)) * 9 / 10
    val history = scd2Fold(ev.where(col("event_id") <= split))
    val batch = ev.where(col("event_id") > split)
    scd2Maintain(history, batch).orderBy("document_key", "valid_from_id")
  }

  /** A7 — multi-collection fan-out (server.rs:174-199 spawns one job per
    * configured collection): route events to per-collection queues and report
    * per-queue publish stats. Money sums are decimal-exact, surfaced as
    * double. Single hash-aggregate with map-side partials.
    */
  def fanoutRouting(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("queue", concat(lit("stream_"), col("event_type")))
      .groupBy(col("queue"))
      .agg(
        count(lit(1)).as("published"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value")
      )
      .orderBy("queue")
}
