package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** D27 — maintained inverted TOKEN INDEX over a [[Versioned]] corpus: the
  * search-side sibling of D24's aggregate maintenance. The index is
  * (token, doc_id, tf) postings stored as a Versioned table whose commit
  * `epoch` records the corpus version it reflects — atomic, time-
  * travelable, crash-replay-safe (refreshing an already-covered corpus
  * version is a no-op under the same epoch guard as the streaming sink).
  *
  * Refresh reads the corpus' file-level delta ([[Versioned.newFiles]]):
  * on a pure-append history the postings of ONLY the new files are
  * computed and APPENDED to the index — appended corpus docs have new
  * doc_ids, so their (token, doc_id) postings are disjoint from every
  * existing posting and the index append needs no merge at all, O(delta)
  * end to end. A rewritten history (replace/merge/optimize/rollback)
  * falls back to a full rebuild of the current snapshot — always correct,
  * never silently stale.
  *
  * Postings are range-clustered by token at write ([[Versioned]]'s D22f
  * per-file min/max then serve [[lookup]]): a point lookup prunes to the
  * files whose [min,max] token range covers the probe — on a 100 TB
  * corpus' index, a handful of files instead of the posting universe.
  * Each append delta is clustered among its own files, so pruning holds
  * file-by-file across the whole append chain.
  */
object TokenIndex {

  /** The postings this index maintains, from any docs frame. */
  private def postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .where(length(col("token")) > 0)
      .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))

  private def clustered(p: DataFrame, nFiles: Int): DataFrame =
    p.repartitionByRange(nFiles, col("token")).sortWithinPartitions("token", "doc_id")

  /** Full (re)build at the corpus' latest version — a REPLACE commit. */
  def build(spark: SparkSession, corpusDir: String, indexDir: String,
            nFiles: Int = 8): Long = {
    val vs = Versioned.versions(spark, corpusDir)
    require(vs.nonEmpty, s"no committed corpus under $corpusDir")
    val v = vs.last
    Versioned.commit(spark,
      clustered(postings(Versioned.read(spark, corpusDir, v)), nFiles),
      indexDir, epoch = v)
    v
  }

  /** Bring the index up to the corpus' latest version. Returns
    * (corpusVersionCovered, usedIncrementalPath). Covering an already-
    * covered version is a no-op.
    */
  def refresh(spark: SparkSession, corpusDir: String, indexDir: String,
              nFiles: Int = 4): (Long, Boolean) = {
    val base = Versioned.versions(spark, corpusDir).last
    val cov = IncrementalAgg.covered(spark, indexDir) // corpus version indexed, 0 = none
    if (cov >= base) (cov, true)
    else if (cov == 0) (build(spark, corpusDir, indexDir), false)
    else Versioned.newFiles(spark, corpusDir, cov, base) match {
      case Some(files) =>
        if (files.nonEmpty) {
          val delta = clustered(postings(spark.read.parquet(files: _*)), nFiles)
          Versioned.append(spark, delta, indexDir, epoch = base)
        }
        (base, true)
      case None => // rewritten history: the delta is not file-describable
        (build(spark, corpusDir, indexDir), false)
    }
  }

  /** Posting list of one token via the stats-pruned point read. */
  def lookup(spark: SparkSession, indexDir: String, token: String): DataFrame =
    Versioned.prunedRead(spark, indexDir, "token", token, token)
      .orderBy("doc_id")
}
