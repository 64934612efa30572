package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Library-level cache hygiene. Several operators persist an intermediate
  * that feeds multiple consumers of the ONE returned plan (the sparse-
  * similarity index, bigramCoverage's per-doc counts, dupSpanTrim's shingle
  * starts, the minhash shingle frames): the cache fills during the caller's
  * action and stays resident afterwards, because a function returning a
  * lazy DataFrame has no post-action hook to unpersist from. That is the
  * right trade for a job that runs a pipeline and exits — and a leak for a
  * long-lived session running many pipelines. Such sessions call [[clear]]
  * between pipelines; the bench harness does exactly this before every
  * sample (BenchHarness.sample), and Verify between queries.
  *
  * Note for plan-only callers: `Similarity.ivfTopKOf` persists the
  * embeddings frame at plan CONSTRUCTION time — merely building the query
  * registers a cache entry that stays until [[clear]] runs (no jobs run
  * and no blocks fill until the plan executes). That is the documented
  * contract, not a leak: the persist is what lets the one action's
  * several corpus scans share a single pass.
  *
  * What [[clear]] leaves alone: memos of METADATA or of deterministic
  * results rather than data blocks. (Versioned-table and ANN-index
  * metadata needs no call here: every operation reads it from the
  * table's manifests and the index's sidecars.) `Tables`' resolution memo (one
  * inferred schema, file fingerprint and spread decision per table
  * version) is checked against the scan's own file listing on every load,
  * so it can never hand a query stale data, and dropping it would only
  * put the footer-inference job back into every operator's first load —
  * a cost a long-lived session pays once per table version, not once per
  * query. `QualityModel`'s weight memo is the same kind: a deterministic
  * 48-byte result keyed on that same fingerprint (`Tables.fingerprint`),
  * so a rewritten corpus misses it with no invalidation call.
  */
object Caches {

  /** Drop every cached block in the session: the SQL cache manager's
    * relations AND bare persistent RDDs (localCheckpoint blocks from the
    * iterative connected-components path are not owned by the cache
    * manager, so `spark.catalog.clearCache` alone would leave them
    * resident). It drops only Spark's blocks: graft keeps no other data
    * cache, and the metadata memos it keeps are checked against the files
    * they describe (see the object doc).
    */
  def clear(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    // Tables' resolution memo and QualityModel's weight memo deliberately
    // survive (see the object doc). QualityModel.invalidateWeightCache
    // (public) exists only to force a re-train cost measurement (bench's
    // quality_train).
  }

  /** Run `body` over `df` persisted, for a function that reads one frame
    * more than once and returns only after its last read. The frame is
    * persisted only when the caller has not cached it, and `finally`
    * unpersists only what this call persisted: a failed body cannot leave
    * the frame cached in a long-lived session, and a caller's own cache
    * survives for its later reads.
    */
  def persisted[T](df: DataFrame)(body: DataFrame => T): T = {
    val own = df.storageLevel == StorageLevel.NONE
    if (own) df.persist()
    try body(df) finally if (own) { df.unpersist(); () }
  }
}
