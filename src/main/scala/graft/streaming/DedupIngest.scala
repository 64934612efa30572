package graft.streaming

import graft.Caches
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming incremental dedup ingest (SURVEY.md §2 B20): documents arrive
  * continuously; each micro-batch keeps only content never seen before —
  * neither earlier in the batch nor in ANY previous batch — and appends the
  * survivors' content hashes to a persistent index. This is how a 100 TB
  * corpus stays deduplicated while it grows, without re-running exact dedup
  * over the full corpus per delivery.
  *
  * Scale shape per micro-batch: one in-batch ranked window on the content
  * hash (batch-sized), one left-anti equi-join against the hash index
  * (keyed on the hash — at corpus scale this is the standard incremental
  * shape: the index is a narrow (hash) table, a fraction of the raw text;
  * bucketing it by hash makes the anti-join co-located). Nothing is ever
  * all-pairs and nothing collects to the driver.
  *
  * Exactly-once: output docs AND index hashes are written as one
  * `batch_id=<epoch>` partition each, OVERWRITTEN on replay — idempotent
  * per epoch, same contract as ParquetQueuePublisher. A crash between sink
  * and checkpoint commit replays the epoch into the same partitions.
  * The index read excludes the current epoch's partition (a replayed
  * epoch must not see its own previous half-write as "history") and
  * carries an explicit schema ([[Epochs.history]]).
  */
object DedupIngest {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType)
  ))

  private val indexSchema = StructType(Seq(
    StructField("text_hash", StringType), StructField("batch_id", LongType)))

  /** One epoch of incremental dedup: in-batch keep-first by content hash,
    * then anti-join against the historical index. Returns the surviving
    * docs (with their hash).
    *
    * Null text (a record missing the field, or a corrupt line parsed
    * permissively) has NO content to be a duplicate of: md5(null) is null,
    * and the window would have grouped every null-text doc into one
    * "duplicate class" and silently dropped all but one DISTINCT document.
    * Null-text rows pass through undeduped instead (and, with a null hash,
    * never enter the anti-join or match the index).
    */
  def dedupBatch(batch: DataFrame, index: DataFrame): DataFrame = {
    val byHash = Window.partitionBy(col("text_hash")).orderBy(col("doc_id"))
    val hashed = batch.withColumn("text_hash", md5(col("text")))
    val deduped = hashed.where(col("text_hash").isNotNull)
      .withColumn("rn", row_number().over(byHash))
      .where(col("rn") === 1)
      .drop("rn")
      .join(index.select("text_hash"), Seq("text_hash"), "left_anti")
    deduped.unionByName(hashed.where(col("text_hash").isNull))
  }

  /** B20b — watermark-bounded streaming dedup: the engine-managed,
    * BOUNDED-state complement to the persistent-index ingest. Content
    * hashes deduplicate via `dropDuplicatesWithinWatermark`, so a key's
    * state lives only until the watermark passes its event time plus
    * `delay` — at which point the engine drops it and a later duplicate is
    * re-admitted. The trade, stated plainly: the index ingest ([[start]])
    * suppresses duplicates over the corpus LIFETIME but owns an
    * ever-growing (hash) table; this variant's state is bounded by the
    * horizon — the right contract for delivery-window dedup (a redelivered
    * queue message, a replayed producer batch), not corpus curation. At
    * 100 TB/day the horizon is what makes streaming exact dedup feasible
    * at all: state size is rate×horizon, independent of history.
    */
  def withinWatermarkDedup(docs: DataFrame, eventTimeCol: String,
                           delay: String): DataFrame = {
    val hashed = docs.withColumn("text_hash", md5(col("text")))
      .withWatermark(eventTimeCol, delay)
    // Null text routes AROUND the dedup, same invariant as [[dedupBatch]]:
    // a missing/corrupt text field has no content to be a duplicate of,
    // and a keyed dedup would fold every null-text doc into one state key
    // and silently drop all but the first distinct document.
    hashed.where(col("text_hash").isNotNull)
      .dropDuplicatesWithinWatermark("text_hash")
      .unionByName(hashed.where(col("text_hash").isNull))
  }

  /** Start the ingest stream: JSON docs from `sourceDir` → deduped parquet
    * in `outDir` + hash index in `indexDir`, both partitioned by epoch.
    * Restarting with the same checkpoint resumes after the last committed
    * epoch; the accumulated index survives restarts by construction.
    */
  def start(spark: SparkSession, sourceDir: String, outDir: String,
            indexDir: String, checkpointDir: String,
            queryName: String = "dedup-ingest",
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Epochs.start(spark, _.readStream.schema(docSchema).json(sourceDir),
        checkpointDir, trigger, Some(queryName)) { (batch, epochId) =>
      val index = Epochs.history(batch.sparkSession, indexDir, indexSchema, epochId, "batch_id")
      // two writers below; dedup must not run twice
      Caches.persisted(dedupBatch(batch, index)) { fresh =>
        Epochs.overwrite(fresh, epochId, outDir, "batch_id")
        Epochs.overwrite(fresh.select("text_hash")
          .where(col("text_hash").isNotNull), // null-text rows carry no content to index
          epochId, indexDir, "batch_id")
      }
    }
}
