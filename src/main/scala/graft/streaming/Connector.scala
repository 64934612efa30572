package graft.streaming

import graft.config.{CollectionConfig, Connections}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Library-level facade mirroring the reference's `Connector` API
  * (mrcon/src/mongo/connector.rs) so a user of the reference maps 1:1:
  *
  *   reference                              graft
  *   ─────────────────────────────────────  ─────────────────────────────────
  *   Connector::from_collection(            Connector.fromCollection(
  *     mongo_uri, rabbitmq_uri, settings)     spark, connections, settings)
  *   Connector::with_clients(client, conn)  connector.connectWith(source,
  *                                            publisher, streamName)
  *   connector.connect(stream_name).await   connector.connect(streamName)
  *
  * `connect` starts the checkpointed stream for this collection and returns
  * the StreamingQuery (the "running watch"). The resume token store is the
  * streaming checkpoint (see ChangeStreamJob); `resumeTokensLocation` points
  * at it, named by the stream like resume_tokens.rs keys tokens by
  * stream_name.
  */
final class Connector(spark: SparkSession, connections: Connections,
                      settings: CollectionConfig) {

  def resumeTokensLocation(streamName: String): String =
    s"${connections.sinkUri}/_checkpoints/$streamName"

  /** Watch the configured collection, publish change events to its queue,
    * resuming after the last persisted position (connector.rs:127-173).
    *
    * `streamName` keys the CHECKPOINT and defaults to the configured
    * queue's stream name — passing a different name on a later run would
    * silently open a fresh checkpoint and replay the whole source into the
    * existing queue, so the default removes the footgun (override only to
    * run several independent watches of one collection).
    *
    * `trigger` defaults to a drain (AvailableNow: process what exists,
    * then terminate — the batch-incremental shape tests and one-shot jobs
    * want). The reference's `connect(...).await` is a CONTINUOUS watch:
    * pass `Trigger.ProcessingTime(...)` (and a `beforeImageTtlMs` to bound
    * the before-image state store) for that mode — GraftDaemon.startQuery
    * runs exactly this facade in continuous mode.
    */
  def connect(streamName: String = settings.queue.streamName,
              trigger: Trigger = Trigger.AvailableNow(),
              beforeImageTtlMs: Option[Long] = None): StreamingQuery =
    connectWith(
      JsonDirSource(s"${connections.sourceUri}/${settings.watched.collName}"),
      ParquetQueuePublisher(s"${connections.sinkUri}/${settings.queue.streamName}"),
      streamName, trigger, beforeImageTtlMs)

  /** A5d×D22g at the facade level: watch the configured collection and
    * MAINTAIN its per-document materialization as a time-travelable
    * [[graft.ops.Versioned]] table under the sink, instead of (or beside)
    * publishing to a queue — the connector stream with a
    * [[VersionedMergePublisher]] as its sink, one keyed merge commit per
    * micro-batch. Before-images are never requested here, so the table
    * schema is the plain envelope whatever the collection's
    * `preAndPostImages` says. The stream name defaults to `<queue>_table`
    * so a queue stream and a materialization of the SAME collection keep
    * independent checkpoints and can run side by side.
    */
  def materialize(streamName: String = settings.queue.streamName + "_table",
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ChangeStreamJob.startStream(spark,
      JsonDirSource(s"${connections.sourceUri}/${settings.watched.collName}"),
      VersionedMergePublisher(s"${connections.sinkUri}/$streamName"),
      checkpointDir = resumeTokensLocation(streamName),
      db = settings.watched.dbName, coll = settings.watched.collName,
      queryName = s"${settings.watched.dbName}.${settings.watched.collName}.materialize",
      trigger = trigger, preAndPostImages = false)

  /** The `with_clients` analog at the binding level (connector.rs:74-90:
    * bring your own clients): run this collection's pipeline over
    * caller-supplied source/publisher bindings.
    */
  def connectWith(source: EventSource, publisher: QueuePublisher,
                  streamName: String,
                  trigger: Trigger = Trigger.AvailableNow(),
                  beforeImageTtlMs: Option[Long] = None): StreamingQuery =
    ChangeStreamJob.startStream(spark, source, publisher,
      checkpointDir = resumeTokensLocation(streamName),
      db = settings.watched.dbName, coll = settings.watched.collName,
      queryName = s"${settings.watched.dbName}.${settings.watched.collName}",
      trigger = trigger,
      preAndPostImages = settings.watched.preAndPostImages,
      beforeImageTtlMs = beforeImageTtlMs)
}

object Connector {
  /** connector.rs:50-63 `from_collection`: build everything from URIs. */
  def fromCollection(spark: SparkSession, connections: Connections,
                     settings: CollectionConfig): Connector =
    new Connector(spark, connections, settings)
}
