package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.LongType

/** Streaming heavy hitters (SURVEY.md §2 D26): the approximate top items
  * per event type over an UNBOUNDED feed, maintained incrementally in
  * bounded state — "who is hammering the API right now", answerable at any
  * moment without a scan. The batch board answers this with one pass
  * (B54's Misra-Gries over a finished corpus, Corpus.scala); a feed has no
  * "finished", so the sketch itself must live in stream state.
  *
  * Reference behavior target: the connector's continuous watch loop
  * (mrcond/src/connector.rs:127-173) — this operator rides the same event
  * feed the A-components ingest.
  *
  * Design, and why it scales:
  *
  *  - The state per group is a Misra-Gries summary: ≤ k counters + an
  *    eviction offset + the group's item total. The SAME offset-amortized
  *    eviction as the batch operator (B54, Corpus.scala:205-221): a miss
  *    on a full map bumps `offset` and retains only counters above it —
  *    each arrival either increments one counter or bumps the offset once,
  *    never a full-map decrement sweep. Stored minus offset lower-bounds
  *    the true count; undercount ≤ total/(k+1) — so any item with
  *    frequency above that bar is GUARANTEED present (the MG property the
  *    spec asserts).
  *
  *  - Groups are (event_type, shard) with shard = hash(user) % nShards,
  *    NOT bare event_type: a 5-type feed keyed by type alone would put
  *    each type's entire volume through ONE state task (the hot-key shape
  *    the two-level B31/B32 scaffolds exist to avoid). Each user hashes to
  *    exactly one shard, so shard substreams are DISJOINT and the merged
  *    estimate sums true per-shard counts: the union of shard summaries
  *    under-counts by at most Σᵢ totalᵢ/(k+1) = total/(k+1) — the same
  *    bound, now with nShards-way parallel state.
  *
  *  - State is bounded by construction: nTypes × nShards groups × (k+2)
  *    longs — independent of feed volume. No watermark needed; the sketch
  *    IS the eviction policy.
  *
  *  - Each micro-batch emits the updated groups' current summaries
  *    (Update semantics), stamped with the epoch; [[latestSummaries]]
  *    reads back the newest row per group — summary-cardinality work, the
  *    usual bounded read-side merge.
  */
object StreamingHeavyHitters {

  /** ≤ k counters (stored value includes the insertion-time offset), the
    * eviction offset, and the group's total item count.
    */
  case class HHState(counters: Map[String, Long], offset: Long, total: Long)

  case class HHRow(event_type: String, shard: Int, user_id: Long,
                   count_min: Long, shard_total: Long)

  /** One group's MG update with a batch of user ids. Pure function —
    * the spec replays it sequentially against the streamed result.
    */
  private[graft] def update(s: HHState, users: Iterator[Long], k: Int): HHState = {
    val counters = collection.mutable.Map[String, Long](s.counters.toSeq: _*)
    var offset = s.offset
    var total = s.total
    users.foreach { user =>
      total += 1
      val key = user.toString
      counters.get(key) match {
        case Some(c) => counters(key) = c + 1
        case None =>
          if (counters.size < k) counters(key) = offset + 1
          else {
            // Textbook MG miss-on-full: the logical decrement-all is one
            // offset bump + dead-key sweep, and the triggering arrival is
            // absorbed UNSTORED — identical to B54 (Corpus.scala). Re-adding
            // it post-sweep would seat singletons at effective count 1 that
            // die together on the next bump, firing a bump every ~k-1 misses
            // instead of every k+1 and voiding the total/(k+1) presence bar.
            offset += 1
            counters.filterInPlace { case (_, c) => c > offset }
          }
      }
    }
    HHState(counters.toMap, offset, total)
  }

  /** The stateful transform: events → per-(type, shard) MG summaries,
    * emitted for every group a batch touched.
    */
  def summaries(events: DataFrame, k: Int = 8, nShards: Int = 4): Dataset[HHRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_type"), col("user_id").cast("long").as("user_id"),
        pmod(hash(col("user_id").cast("long")), lit(nShards)).cast("int").as("shard"))
      .as[(String, Long, Int)]
      .groupByKey { case (typ, _, shard) => (typ, shard) }
      .flatMapGroupsWithState[HHState, HHRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case ((typ, shard), rows, state: GroupState[HHState]) =>
          val next = update(
            state.getOption.getOrElse(HHState(Map.empty, 0L, 0L)),
            rows.map(_._2), k)
          state.update(next)
          next.counters.iterator.map { case (u, c) =>
            HHRow(typ, shard, u.toLong, math.max(c - next.offset, 1L), next.total)
          }
      }
  }

  /** Run over an event feed, appending each epoch's updated summaries
    * under `batch_id=<epoch>`, overwritten on replay (the
    * ParquetQueuePublisher idempotence contract — a crash between sink
    * and checkpoint commit replays the epoch into the same partition).
    */
  def start(spark: SparkSession, source: EventSource, outDir: String,
            checkpointDir: String, k: Int = 8, nShards: Int = 4,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Epochs.start(spark, s => summaries(source.load(s), k, nShards).toDF(), checkpointDir, trigger,
        outputMode = OutputMode.Update())(
      Epochs.overwrite(_, _, outDir, "batch_id"))

  /** The newest summary row per (type, shard, user) — later epochs
    * supersede earlier ones for the groups they re-emitted. Runs over
    * summary-cardinality data (nTypes × nShards × k × nEpochs rows). Read
    * with the summary schema plus `batch_id`, so a drain that emitted
    * nothing, which leaves no `outDir`, reads empty.
    */
  def latestSummaries(spark: SparkSession, outDir: String): DataFrame =
    Epochs.read(spark, outDir, Encoders.product[HHRow].schema.add("batch_id", LongType))
      .withColumn("newest", max(col("batch_id")).over(
        Window.partitionBy("event_type", "shard")))
      .where(col("batch_id") === col("newest"))
      .drop("newest")

  /** Merge shard summaries into the per-type top-m: shard substreams are
    * disjoint, so summing per-shard lower bounds keeps the global
    * undercount ≤ total/(k+1).
    */
  def mergedTopK(latest: DataFrame, m: Int = 5): DataFrame =
    latest.groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("count_min")).as("est_count"))
      .withColumn("rn", row_number().over(Window.partitionBy("event_type")
        .orderBy(col("est_count").desc, col("user_id"))))
      .where(col("rn") <= m)
      .drop("rn")
      .orderBy(col("event_type"), col("est_count").desc, col("user_id"))

  /** The sketch under the reference's supervision posture (every stream
    * supervised + metered, mrcond/src/server.rs:174-252 — not started
    * bare): model the heavy-hitters query as one analytics "collection"
    * and run it under [[Supervisor]] with a [[MetricsRegistry]]. The
    * supervisor then does for the sketch exactly what it does for the
    * connector streams: startAll() launches it and sets the
    * collection/server gauges, a failure is classified into the task-
    * failure counters, and an in-budget superviseOnce() restart relaunches
    * FROM THE CHECKPOINT — flatMapGroupsWithState reloads the MG summaries
    * from the state store, so the restarted query resumes counting where
    * the dead one stopped (the spec kills a query mid-feed and checks the
    * final merged top-k equals an unfailed run's). A daemon deployment
    * plugs the returned supervisor into the same poll loop and /metrics
    * endpoint GraftDaemon uses for connectors.
    */
  def supervised(spark: SparkSession, metrics: MetricsRegistry,
                 source: EventSource, outDir: String, checkpointDir: String,
                 k: Int = 8, nShards: Int = 4,
                 trigger: Trigger = Trigger.AvailableNow(),
                 maxRestarts: Int = 3): Supervisor = {
    import graft.config.{CollectionConfig, Connections, QueueSink, ResumeTokensDb, Settings, WatchedDb}
    val cfg = CollectionConfig(
      WatchedDb("analytics", "heavy_hitters"),
      ResumeTokensDb("analytics", "heavy_hitters_ckpt"),
      QueueSink("heavy-hitter-summaries"))
    val settings = Settings.create(Connections(source.toString, outDir), Seq(cfg))
      .fold(e => sys.error(e), identity)
    new Supervisor(spark, settings, metrics,
      (s, _) => start(s, source, outDir, checkpointDir, k, nShards, trigger),
      maxRestarts = maxRestarts)
  }
}
