package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** D24 — incremental materialized-aggregate maintenance over a [[Versioned]]
  * table: keep a per-key aggregate (count + char volume per lang) current
  * as the base table grows, paying O(delta) per refresh instead of
  * O(table) — the batch half of materialized-view maintenance (the
  * streaming half is D22b's epochWriter + D6's windowed aggregates).
  *
  * Mechanics: the aggregate STATE is itself a Versioned table whose commit
  * `epoch` records the base version it covers — so state is atomic,
  * time-travelable, and a crash-replayed refresh is a NO-OP (same replay
  * guard as the streaming sink: refreshing an already-covered base version
  * changes nothing). Each refresh asks the base table's manifests for the
  * file-level delta ([[Versioned.newFiles]] — append commits make the
  * delta exactly the new files); the delta aggregates alone (count/sum
  * partial-aggregate map-side over only the NEW rows) and merges with the
  * prior state by a keyed re-aggregate over state-cardinality rows.
  *
  * When the base history is NOT a pure append chain (a replace commit or
  * rollback landed since the covered version), a file-level delta does not
  * describe the change — refresh detects that from the manifests and falls
  * back to a full recompute of the current snapshot, which is always
  * correct. The INCREMENTAL path is the fast path, the full path is the
  * safety net; both publish through the same atomic state commit.
  *
  * At 100 TB: the delta read touches only new files (manifest set
  * difference, no directory listing races); the merge join carries
  * key-cardinality rows (langs — KBs); nothing rescans history on the
  * append path.
  */
object IncrementalAgg {

  /** The aggregate this view maintains, applied to any docs frame —
    * count/sum (invertible) plus max (non-invertible, the D24b case).
    */
  private def aggregate(df: DataFrame): DataFrame =
    df.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("n_chars"),
      max(col("n_chars")).as("max_chars"))

  /** Append-path merge: inserts can only raise a max, so max-of-maxes is
    * exact here (deletes never take this path — they arrive via the feed).
    */
  private def mergeStates(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("lang").agg(
      sum(col("n_docs")).as("n_docs"),
      sum(col("n_chars")).as("n_chars"),
      max(col("max_chars")).as("max_chars"))

  /** Base version a maintained Versioned view currently covers — the
    * epoch its head commit recorded (0 = no view yet). Serves this state
    * table and [[TokenIndex]]'s index alike.
    */
  def covered(spark: SparkSession, stateDir: String): Long =
    Versioned.versions(spark, stateDir).lastOption
      .map(Versioned.epochOf(spark, stateDir, _)).getOrElse(0L)

  /** Bring the state up to the base table's latest version. Returns
    * (newBaseVersionCovered, usedIncrementalPath); covering an
    * already-covered version is a no-op (replay-safe).
    *
    * Three paths, cheapest applicable wins:
    *  1. pure-append history → aggregate ONLY the new files
    *     ([[Versioned.newFiles]]) and merge into state;
    *  2. rewritten history that still SHARES files with the covered
    *     version (a keyed [[Versioned.merge]], an [[Versioned.optimize]])
    *     → apply the row-level [[Versioned.changeFeed]] as SIGNED deltas:
    *     count/sum are invertible, so inserts weigh +1 and deletes −1 and
    *     the feed's file pruning keeps the read at O(changed files) — the
    *     r14 "fall back to full recompute" gap, closed by composition
    *     (keys whose count reaches 0 drop out of the state). The
    *     non-invertible max refreshes by AFFECTED-GROUP recompute (r16):
    *     only groups present in the feed re-scan their snapshot rows;
    *     untouched groups keep their stored max;
    *  3. first build, a FULL replace (no shared files — the feed would
    *     read old+new, strictly worse than recomputing new), or a covered
    *     version whose manifest was vacuumed → full recompute, always
    *     correct.
    */
  def refresh(spark: SparkSession, tableDir: String, stateDir: String): (Long, Boolean) = {
    val cur = Versioned.versions(spark, tableDir).last
    val cov = covered(spark, stateDir)
    if (cur == cov) return (cov, true)
    // Schema migration guard: a state table committed before max_chars was
    // added to the aggregate can't be merged incrementally (mergeStates /
    // the feed path would fail at analysis selecting the missing column).
    // One full recompute re-publishes the state under the current schema;
    // subsequent refreshes take the incremental paths again.
    val stateCurrent = cov <= 0 ||
      Versioned.read(spark, stateDir).columns.contains("max_chars")
    val incremental =
      if (cov <= 0 || !stateCurrent) None
      else Versioned.newFiles(spark, tableDir, cov, cur)
    val feedApplicable = cov > 0 && stateCurrent && incremental.isEmpty &&
      Versioned.versions(spark, tableDir).contains(cov) && {
        val curF = Versioned.newFiles(spark, tableDir, -1L, cur).get.toSet
        Versioned.newFiles(spark, tableDir, -1L, cov).get.exists(curF)
      }
    val next = incremental match {
      case Some(delta) =>
        val deltaAgg = aggregate(
          if (delta.isEmpty) Versioned.read(spark, tableDir, cur).limit(0)
          else spark.read.parquet(delta: _*))
        mergeStates(Versioned.read(spark, stateDir), deltaAgg)
      case None if feedApplicable =>
        val feed = Versioned.changeFeed(spark, tableDir, cov, cur)
          .withColumn("_w", when(col("_change_type") === "insert", 1L).otherwise(-1L))
          .persist() // two consumers: signed count/sum deltas + affected keys
        val deltaAgg = feed.groupBy("lang").agg(
          sum(col("_w")).as("n_docs"),
          sum(col("_w") * col("n_chars")).as("n_chars"))
        val prior = Versioned.read(spark, stateDir)
        val counts = prior.select("lang", "n_docs", "n_chars").unionByName(deltaAgg)
          .groupBy("lang").agg(
            sum(col("n_docs")).as("n_docs"), sum(col("n_chars")).as("n_chars"))
          .where(col("n_docs") > 0)
        // D24b (r16, VERDICT r15 #7): max is NOT delete-invertible — a
        // deleted row may BE the group max, and no signed delta can lower a
        // max. Instead of the r15 full-recompute fallback, recompute max
        // ONLY for groups the feed touched: a snapshot read semi-joined to
        // the feed's key set — O(changed groups) rows on a key-clustered
        // layout (D13/D22f prune the untouched files), while untouched
        // groups keep their stored max bit-for-bit.
        val affected = feed.select("lang").distinct()
        val remax = Versioned.read(spark, tableDir, cur)
          .join(affected, Seq("lang"), "left_semi")
          .groupBy("lang").agg(max(col("n_chars")).as("_max_new"))
        counts
          .join(affected.withColumn("_aff", lit(true)), Seq("lang"), "left")
          .join(remax, Seq("lang"), "left")
          .join(prior.select(col("lang"), col("max_chars").as("_max_prior")),
            Seq("lang"), "left")
          .select(col("lang"), col("n_docs"), col("n_chars"),
            when(col("_aff"), col("_max_new")).otherwise(col("_max_prior"))
              .as("max_chars"))
      case None => // first build, full replace, or vacuumed basis — recompute
        aggregate(Versioned.read(spark, tableDir, cur))
    }
    Versioned.commit(spark, next.orderBy("lang"), stateDir, epoch = cur)
    (cur, cov > 0 && (incremental.isDefined || feedApplicable))
  }
}
