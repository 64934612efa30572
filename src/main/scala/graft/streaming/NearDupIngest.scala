package graft.streaming

import graft.Caches
import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** B20c — streaming incremental NEAR-dup ingest (SURVEY.md §2): the MinHash
  * complement to [[DedupIngest]]'s exact-hash index. Exact dedup misses the
  * re-crawl that changed one token; running batch LSH over the full corpus
  * per delivery re-pays the whole history. This keeps a persistent LSH
  * index — per surviving doc, its signature (one narrow array row) and its
  * `bands` band-bucket keys — and each micro-batch:
  *
  *   1. drops in-batch near-dups (any doc pairing, at `threshold`
  *      estimated Jaccard, with a SMALLER id in the same batch — the
  *      guarded star semantics of [[Dedup.minhashPairs]]);
  *   2. probes the band index with the batch's band keys (a keyed
  *      equi-join — candidates meet only on shared band buckets, never
  *      all-pairs), verifies candidates against the historical SIGNATURE
  *      (estimated Jaccard from component agreement, the same test the
  *      batch operator applies), and drops history near-dups;
  *   3. appends the SURVIVORS' signatures + band keys to the index as an
  *      epoch-overwritten partition — [[DedupIngest]]'s exactly-once
  *      contract verbatim (replay overwrites its own partition; the index
  *      read excludes the current epoch).
  *
  * Signatures and band keys come from the batch operators' md5-prefix
  * family: a band key is the md5 hex string [[Dedup.minhashSignature]]
  * emits for the same band.
  *
  * Scale shape per micro-batch: signature pass is per-row; the probe join
  * is keyed on (band, band_key) with the HISTORY side width-capped per
  * bucket (`probeCap` smallest doc_ids — a viral band bucket is
  * boilerplate whose retained members are themselves near-identical, the
  * [[Dedup.guardedPairs]] degradation applied to an index probe); the
  * index is ~(numHashes·8 B + bands·40 B) per doc, a small constant
  * fraction of the raw text. Nothing rescans history text, nothing is
  * all-pairs, nothing collects to the driver.
  *
  * Semantics note, stated plainly: near-dup suppression is NOT transitive
  * (unlike B20's exact hashes). A doc is dropped against the closest
  * SURVIVING history, so a chain A ≈ B ≈ C where only A survived batch 1
  * admits C when C's similarity to A is below threshold — threshold
  * chaining, inherent to every online near-dup scheme and pinned by spec.
  */
object NearDupIngest {

  val docSchema: StructType = DedupIngest.docSchema

  private val sigSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sig", ArrayType(LongType, containsNull = false)),
    StructField("batch_id", LongType)))

  private val bandSchema = StructType(Seq(
    StructField("band", IntegerType), StructField("band_key", StringType),
    StructField("doc_id", LongType), StructField("batch_id", LongType)))

  /** Epoch-excluding index reads with explicit schemas ([[Epochs.history]]). */
  def readSigIndex(spark: SparkSession, dir: String, excludeEpoch: Long): DataFrame =
    Epochs.history(spark, dir, sigSchema, excludeEpoch, "batch_id")

  def readBandIndex(spark: SparkSession, dir: String, excludeEpoch: Long): DataFrame =
    Epochs.history(spark, dir, bandSchema, excludeEpoch, "batch_id")

  /** One epoch: in-batch near-dup drop, then the band-probe + signature
    * verify against history. Returns surviving docs with their `sig`
    * column attached (the index writer consumes it). Null-text rows pass
    * through unexamined, [[DedupIngest.dedupBatch]]'s invariant: no
    * content, nothing to be a near-duplicate of, and never indexed.
    * The result is lazy and caches nothing, so each of its stages
    * recomputes the batch's signatures; [[start]] shares one persisted
    * copy per epoch.
    */
  def dedupBatch(batch: DataFrame, bandIndex: DataFrame, sigIndex: DataFrame,
                 numHashes: Int = 64, bands: Int = 16, shingleK: Int = 3,
                 threshold: Double = 0.5, maxBucket: Int = 256,
                 probeCap: Int = 64): DataFrame =
    dedupSigned(batch, textedSignatures(batch, numHashes, shingleK), bandIndex, sigIndex,
      numHashes, bands, threshold, maxBucket, probeCap)

  /** (doc_id, sig) of the batch's texted docs, computed once per epoch. */
  private def textedSignatures(batch: DataFrame, numHashes: Int, shingleK: Int): DataFrame =
    Dedup.signatures(batch.where(col("text").isNotNull), numHashes, shingleK)

  /** [[dedupBatch]] over the batch's [[textedSignatures]], which every stage
    * reads: the in-batch pair pass ([[Dedup.pairsFrom]]), the band probe,
    * the verify join and the survivors; [[start]] passes them persisted.
    */
  private def dedupSigned(batch: DataFrame, signed: DataFrame, bandIndex: DataFrame,
                          sigIndex: DataFrame, numHashes: Int, bands: Int,
                          threshold: Double, maxBucket: Int = 256,
                          probeCap: Int = 64): DataFrame = {
    val textless = batch.where(col("text").isNull).withColumn("sig",
      lit(null).cast(ArrayType(LongType, containsNull = false)))
    // in-batch star drop: any pair (a < b) at threshold removes b
    val inBatchDrops = Dedup.pairsFrom(signed, numHashes, bands, threshold, maxBucket)
      .select(col("id_b").as("doc_id")).distinct()
    val kept = signed.join(inBatchDrops, Seq("doc_id"), "left_anti")
    val newBands = Dedup.explodedBands(kept, bands, numHashes / bands)
    val byBucket = Window.partitionBy(col("band"), col("band_key"))
      .orderBy(col("doc_id"))
    val cappedHist = bandIndex
      .withColumn("rn", row_number().over(byBucket))
      .where(col("rn") <= probeCap)
      .select(col("band"), col("band_key"), col("doc_id").as("old_id"))
    val cand = newBands.join(cappedHist, Seq("band", "band_key"))
      .select(col("id").as("doc_id"), col("old_id")).distinct()
    val histDrops = cand
      .join(kept, Seq("doc_id"))
      .join(sigIndex.select(col("doc_id").as("old_id"), col("sig").as("old_sig")),
        Seq("old_id"))
      .where(graft.functions.VectorExpressions.agreeCount(col("sig"), col("old_sig"))
        .cast("double") / lit(numHashes.toDouble) >= threshold)
      .select("doc_id").distinct()
    val survivors = batch.where(col("text").isNotNull)
      .join(kept.join(histDrops, Seq("doc_id"), "left_anti"), Seq("doc_id"))
    survivors.unionByName(textless)
  }

  /** Start the ingest stream: JSON docs from `sourceDir` → near-dup-free
    * parquet in `outDir`, signature index in `sigDir`, band index in
    * `bandDir` — all partitioned by epoch, all overwritten on replay.
    * Restarting with the same checkpoint resumes after the last committed
    * epoch; the accumulated index survives restarts by construction.
    */
  def start(spark: SparkSession, sourceDir: String, outDir: String,
            sigDir: String, bandDir: String, checkpointDir: String,
            queryName: String = "neardup-ingest",
            numHashes: Int = 64, bands: Int = 16, shingleK: Int = 3,
            threshold: Double = 0.5,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Epochs.start(spark, _.readStream.schema(docSchema).json(sourceDir),
        checkpointDir, trigger, Some(queryName)) { (batch, epochId) =>
      val s = batch.sparkSession
      // the epoch owns both caches: the signatures every stage reads, and
      // the survivors the three writers below read (the dedup runs once)
      Caches.persisted(textedSignatures(batch, numHashes, shingleK)) { signed =>
        val survivors = dedupSigned(batch, signed,
          readBandIndex(s, bandDir, epochId),
          readSigIndex(s, sigDir, epochId),
          numHashes, bands, threshold)
        Caches.persisted(survivors) { fresh =>
          Epochs.overwrite(fresh.drop("sig"), epochId, outDir, "batch_id")
          val indexed = fresh.where(col("sig").isNotNull)
          Epochs.overwrite(indexed.select("doc_id", "sig"), epochId, sigDir, "batch_id")
          Epochs.overwrite(Dedup.explodedBands(indexed, bands, numHashes / bands)
              .select(col("band"), col("band_key"), col("id").as("doc_id")),
            epochId, bandDir, "batch_id")
        }
      }
    }
}
