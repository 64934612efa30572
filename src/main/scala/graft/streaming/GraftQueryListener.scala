package graft.streaming

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** StreamingQueryListener → MetricsRegistry bridge (SURVEY.md §2 A12):
  * the per-batch progress the engine reports for every query on the
  * session, as `graft_query_input_rows_last_batch` (collection, database).
  * Registered via `spark.streams.addListener` (control-plane only;
  * executors never touch this path). graft's streams run on the stream
  * session `Epochs.start` derives from `spark`, which forwards their
  * events to the listeners registered here.
  *
  * The five lifecycle series of the reference (mrcon/src/server.rs:188-259)
  * are the [[Supervisor]]'s alone, as the reference's supervision loop owns
  * them: a listener that also counted starts would count every supervised
  * start twice.
  *
  * Query-name convention: `db.collection` (the watched namespace, one per
  * supervised stream) so the labelled series match metrics.rs labels.
  */
final class GraftQueryListener(metrics: MetricsRegistry) extends StreamingQueryListener {

  private def split(name: String): (String, String) =
    if (name == null || name.isEmpty) ("unknown", "unknown") // guard BEFORE split — a null would NPE on it
    else name.split("\\.", 2) match {
      case Array(db, coll) => (coll, db)
      case _ => (name, "unknown")
    }

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val (coll, db) = split(Option(event.progress.name).getOrElse("unknown"))
    metrics.setGauge("graft_query_input_rows_last_batch",
      event.progress.numInputRows, "collection" -> coll, "database" -> db)
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
}
