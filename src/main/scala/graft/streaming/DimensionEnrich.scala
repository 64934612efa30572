package graft.streaming

import graft.ops.Versioned
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** D25 — stream-static dimension enrichment with epoch-granular dimension
  * refresh: join the live event stream against a slowly-changing dimension
  * served from a [[Versioned]] table, re-resolving the dimension's CURRENT
  * snapshot at every micro-batch — the standard production enrichment shape
  * (clickstream × user segments, CDC × account metadata) where the
  * dimension updates on its own cadence and the stream must pick the new
  * version up WITHOUT a restart.
  *
  * Why `foreachBatch` rather than a plan-time `join(staticDf)`: Spark
  * resolves a static frame's files when the QUERY starts, so a plan-time
  * join pins the dimension as of stream start forever. Re-resolving inside
  * the batch hook makes each epoch read the manifest that is current at
  * that moment — and because Versioned readers resolve one complete
  * manifest atomically, an epoch sees either the old or the new dimension
  * snapshot, never a torn mix (the exact failure mode of joining against a
  * plain directory a writer is overwriting).
  *
  * Consistency contract: enrichment version can differ ACROSS epochs
  * (that is the point — freshness) but never WITHIN one (atomic manifest
  * resolution), and each output epoch records `dim_version` so downstream
  * consumers can reason about which snapshot enriched which rows. Output
  * epochs overwrite their own partition — the same replay-replaces
  * idempotence as the queue sink, so a crash-replayed epoch re-enriches
  * against the then-current dimension and REPLACES its rows rather than
  * duplicating them.
  *
  * Scale: the dimension side is a broadcast hash join per batch (user
  * dimensions are KB-MB; for a fact-scale dimension drop the hint and let
  * AQE shuffle it); the stream side never re-reads history.
  */
object DimensionEnrich {

  /** Start enrichment of the event feed `source` against the versioned
    * dimension at `dimDir` (expects columns `user_id`, `segment`), writing
    * (event_id, user_id, event_type, segment, dim_version, epoch) to
    * `outDir`, epoch-overwritten.
    */
  def start(spark: SparkSession, source: EventSource, dimDir: String,
            outDir: String, checkpointDir: String,
            queryName: String = "dimension-enrich",
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // Fail FAST with an actionable message rather than letting the first
    // micro-batch die on a bare NoSuchElementException from versions().last
    // when enrichment is started before the dimension's first commit
    // (ADVICE r11). The per-batch resolve below then always finds ≥ 1
    // version — Versioned never deletes the last one.
    require(Versioned.versions(spark, dimDir).nonEmpty,
      s"DimensionEnrich.start: no committed dimension version under $dimDir — " +
        "commit the dimension table (Versioned.commit) before starting enrichment")
    Epochs.start(spark, source.load, checkpointDir, trigger, Some(queryName)) { (batch, epochId) =>
      val s = batch.sparkSession
      val dimVersion = Versioned.versions(s, dimDir).last
      val dim = Versioned.read(s, dimDir, dimVersion).select("user_id", "segment")
      Epochs.overwrite(
        batch.select("event_id", "user_id", "event_type")
          .join(broadcast(dim), Seq("user_id"), "left_outer")
          .withColumn("dim_version", lit(dimVersion)),
        epochId, outDir)
    }
  }
}
