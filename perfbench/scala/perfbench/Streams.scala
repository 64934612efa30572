package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.config.{CollectionConfig, Connections, Settings}
import graft.streaming.{ChangeStreamJob, Connector, GraftDaemon, JsonDirSource, ParquetQueuePublisher}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The connector workload: a live phase, where the daemon's streams
  * (`GraftDaemon.startQuery`) serve an open-loop generator, then a catch-up
  * phase, where `Connector.connect` and `Connector.materialize` drain a
  * staged backlog.
  */
object Streams {

  def collections(configYaml: Path): Vector[CollectionConfig] =
    Settings.parseCollections(new String(Files.readAllBytes(configYaml), "UTF-8"))
      .fold(e => sys.error(e), identity)

  /** Rows in one frame and not the other, both ways, columns by name. */
  private def sameRows(a: DataFrame, b: DataFrame): Long = {
    val cols = a.columns.sorted.map(col)
    a.select(cols: _*).exceptAll(b.select(cols: _*)).count() +
      b.select(cols: _*).exceptAll(a.select(cols: _*)).count()
  }

  /** The connector workload: the live phase, then the catch-up phase, in
    * one process. The live phase comes first because its latency is bound
    * by the trigger interval rather than by cold code, and it warms the
    * streaming code the catch-up drains then measure.
    */
  def connector(spark: SparkSession, a: Args): Map[String, Any] = {
    val live = Streams.live(spark, a)
    val catchup = Streams.catchup(spark, a)
    def num(m: Map[String, Any], k: String) = m(k).asInstanceOf[Number].longValue
    Map("live" -> live, "catchup" -> catchup,
      "attempted" -> (num(live, "attempted") + num(catchup, "attempted")),
      "failed" -> (num(live, "failed") + num(catchup, "failed")),
      "failures" -> (live("failures").asInstanceOf[Seq[Any]] ++ catchup("failures").asInstanceOf[Seq[Any]]))
  }

  // ---------------------------------------------------------------- catchup

  val backlogEvents = 12000
  // epochs of each drain: the queue drain exposes the per-epoch floor, the
  // table drain's merge epochs cost seconds each
  val queueEpochs = 6
  val tableEpochs = 3
  val warmDrains = 8

  /** Closed loop, one client: a restart after downtime, with fresh
    * checkpoints, drains a staged backlog through `Connector.connect`, again
    * and again until `seconds` have passed. The warm-up also drains the same
    * events, staged in larger files, through `Connector.materialize`, whose
    * table is checked. Under `--trace 1` every cycle drains both ways and
    * every other cycle runs the same pipelines through `connectWith`, with
    * timing wrappers around the queue publisher and the merge writer.
    */
  def catchup(spark: SparkSession, a: Args): Map[String, Any] = {
    val phaseStartMs = System.currentTimeMillis()
    val cfg = collections(a.config).find(!_.watched.preAndPostImages)
      .getOrElse(sys.error("no plain collection in the config"))
    val coll = cfg.watched.collName
    val queueName = cfg.queue.streamName
    val tableName = queueName + "_table"
    val perEpoch = JsonDirSource("").maxFilesPerTrigger
    // the events are fixed; the seed sets where their files split
    val evs = Feed.events(backlogEvents, Feed.rng(0L, 1L))(Feed.uniformKeys(backlogEvents / 67))
    val r = Feed.rng(a.seed, 2L)
    val backlogs = Map(
      "connect" -> Feed.splitSizes(backlogEvents, queueEpochs, perEpoch, r),
      "materialize" -> Feed.splitSizes(backlogEvents, tableEpochs, perEpoch, r))
    val sources = backlogs.map { case (kind, sizes) =>
      val dir = a.work.resolve(kind)
      Feed.stageBacklog(dir.resolve(coll), evs, sizes)
      kind -> dir
    }
    val inputBytes = Trace.du(sources("connect").toString)._2
    Trace.mark("staged")

    def drain(sink: Path, kind: String, traced: Boolean): Map[String, Any] = {
      val source = sources(kind)
      val connector = Connector.fromCollection(spark, Connections(source.toString, sink.toString), cfg)
      val src = JsonDirSource(s"$source/$coll")
      val t0 = System.nanoTime()
      val q: StreamingQuery = (kind, traced) match {
        case ("connect", false) => connector.connect()
        case ("materialize", false) => connector.materialize()
        case ("connect", true) => connector.connectWith(src,
          Trace.TimedPublisher(kind, ParquetQueuePublisher(s"$sink/$queueName")), queueName)
        case _ => connector.connectWith(src,
          Trace.TimedPublisher(kind, Trace.MergePublisher(s"$sink/$tableName")), tableName)
      }
      q.awaitTermination()
      val wallMs = (System.nanoTime() - t0) / 1e6
      Map("kind" -> kind, "wall_ms" -> wallMs, "traced" -> traced,
        "rows" -> Trace.epochs(q).map(_("rows").asInstanceOf[Long]).sum,
        "sink_ms" -> (if (traced) Trace.takePublish(kind) else Nil))
    }
    var n = 0
    val progressLog = new Trace.ProgressLog
    def cycle(kinds: Seq[String], traced: Boolean): (Path, Seq[Map[String, Any]]) = {
      val sink = a.work.resolve(s"sink$n")
      n += 1
      if (traced) spark.streams.addListener(progressLog)
      try sink -> kinds.map { kind =>
        val d = drain(sink, kind, traced)
        // traced drains keep the listener's view of their epochs, once the
        // bus has delivered the last of them
        if (traced) {
          org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
          d + ("listener_epochs" -> progressLog.drain())
        } else d
      } finally if (traced) spark.streams.removeListener(progressLog)
    }

    // warm-up: queue drains keep getting faster for about eight repeats
    // (by up to 30%, at a pace that differs between processes), and the
    // merge writer's code is still cold after the live phase
    val both = Seq("connect", "materialize")
    (0 until warmDrains - 1).foreach(_ => Trace.deleteTree(cycle(Seq("connect"), traced = false)._1))
    val (warmSink, _) = cycle(both, traced = false)
    Trace.mark("warm")
    val drains = ArrayBuffer[Map[String, Any]]()
    var lastSink: Path = null
    val windowStartMs = System.currentTimeMillis()
    val windowStart = System.nanoTime()
    // at least four cycles; traced and untraced ones alternate when tracing
    var cycles = 0
    while (cycles < 4 || (System.nanoTime() - windowStart) / 1e9 < a.seconds) {
      val (sink, ds) = cycle(if (a.trace) both else Seq("connect"), traced = a.trace && cycles % 2 == 1)
      drains ++= ds.map(_ + ("cycle" -> cycles))
      cycles += 1
      // keep the newest sink only: older ones are checked by row count
      if (lastSink != null) Trace.deleteTree(lastSink)
      lastSink = sink
    }
    Trace.mark(s"measured ${drains.size} drains")
    val tableDir = s"${if (a.trace) lastSink else warmSink}/$tableName"

    // ---- checks, outside the timed window
    val failures = ArrayBuffer[String]()
    val failed = scala.collection.mutable.Set[Int]()
    drains.zipWithIndex.foreach { case (d, i) =>
      if (d("rows") != backlogEvents.toLong) {
        failures += s"drain $i (${d("kind")}) published ${d("rows")} of $backlogEvents events"
        failed += i
      }
    }
    val dataDir = a.work.resolve("data").toString
    Feed.writeTable(Feed.eventsFrame(spark, evs), dataDir, "events")
    val queue = spark.read.parquet(s"$lastSink/$queueName")
    val dupes = queue.groupBy("event_id").count().where(col("count") =!= 1).count()
    if (dupes > 0) failures += s"$dupes event_ids are not in the queue exactly once"
    val badQueue = sameRows(queue.drop("epoch"),
      graft.SparkEntry.queries("change_events_json")(spark, dataDir))
    if (badQueue > 0) failures += s"queue differs from change_events_json in $badQueue rows"
    if (dupes + badQueue > 0) failed += drains.lastIndexWhere(_("kind") == "connect")
    val table = graft.ops.Versioned.read(spark, tableDir)
      .select(col("document_key"), col("event_id").as("last_event_id"), col("full_document"))
    val badTable = sameRows(table, graft.SparkEntry.queries("cdc_apply")(spark, dataDir))
    if (badTable > 0) {
      failures += s"materialized table differs from cdc_apply in $badTable rows"
      failed += drains.lastIndexWhere(_("kind") == "materialize")
    }
    Trace.mark("checked")

    val layers = scala.collection.mutable.Map[String, Any]()
    if (a.trace) {
      // events: the envelope alone, over the same feed read as a static table
      val feed = spark.read.schema(ChangeStreamJob.eventSchema).json(s"${sources("connect")}/$coll")
      layers("envelope_s") = (0 until 3).map(_ =>
        Trace.timed(Trace.noop(ChangeStreamJob.toChangeEvents(feed, cfg.watched.dbName, coll)))._2)
      layers("checkpoint_files") = Trace.du(s"$lastSink/_checkpoints/$queueName")._1
      layers("input_bytes") = inputBytes
      layers("queue_bytes") = Trace.du(s"$lastSink/$queueName")._2
      layers("table_input_bytes") = Trace.du(sources("materialize").toString)._2
      layers("table_bytes") = Trace.du(tableDir)._2
      val history = graft.ops.Versioned.history(spark, tableDir)
      layers("files_live") = history.last._5
      layers("versions") = history.size
    }
    Map("setup_s" -> (windowStartMs - phaseStartMs) / 1000.0,
      "drains" -> drains.toSeq, "events" -> backlogEvents,
      "attempted" -> drains.size, "failed" -> failed.size, "failures" -> failures.toSeq,
      "layers" -> layers.toMap)
  }

  // ------------------------------------------------------------------- live

  val liveFileEvents = 2000
  val liveKeys = 20000
  val liveWarmupS = 8
  val triggerMs = 2000L

  /** Keys drawn from a Zipf(1) law over `liveKeys` ranks; the seed permutes
    * which key holds which rank and drives the draws.
    */
  def zipfKeys(seed: Long): java.util.Random => Long = {
    val perm = (0L until liveKeys.toLong).toArray
    val pr = Feed.rng(seed, 3L)
    for (i <- perm.indices.reverse) {
      val j = pr.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val cdf = (1 to liveKeys).map(1.0 / _).scanLeft(0.0)(_ + _).tail.toArray
    val total = cdf.last
    r => {
      val u = r.nextDouble() * total
      val i = java.util.Arrays.binarySearch(cdf, u)
      perm(if (i >= 0) i else math.min(-i - 1, liveKeys - 1))
    }
  }

  /** Open loop: each collection receives one file of `liveFileEvents` events
    * per second on a fixed schedule, whatever the streams do. An event is
    * created at a steady rate over the second before its file is written.
    */
  def live(spark: SparkSession, a: Args): Map[String, Any] = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cfgs = collections(a.config)
    val conn = Connections(a.work.resolve("source").toString, a.work.resolve("sink").toString)
    cfgs.foreach(c => Files.createDirectories(Paths.get(conn.sourceUri, c.watched.collName)))
    val nFiles = liveWarmupS + a.seconds
    // per collection: its files' events, drawn up front so writing is cheap
    val plans = cfgs.zipWithIndex.map { case (c, ci) =>
      val r = Feed.rng(a.seed, 10L + ci)
      val keys = zipfKeys(a.seed * 31 + ci)
      c -> Feed.events(nFiles * liveFileEvents, r)(keys)
    }
    val queries = cfgs.map(c => GraftDaemon.startQuery(conn)(spark, c))
    // set-up ends here: what follows is paced by the schedule, not by work
    val startedMs = System.currentTimeMillis()
    val progressLog = new Trace.ProgressLog
    // first file on the trigger grid plus an offset per collection, so no
    // write races a trigger's listing
    val t0 = (System.currentTimeMillis() / triggerMs + 2) * triggerMs
    val offsets = cfgs.indices.map(ci => 300L + 400L * ci)
    val written = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val schedule = (for { j <- 0 until nFiles; ci <- cfgs.indices }
      yield (t0 + j * 1000L + offsets(ci), j, ci)).sortBy(_._1)
    val traceFromMs = t0 + (liveWarmupS + a.seconds / 2) * 1000L
    val gen = new Thread(() => {
      schedule.foreach { case (due, j, ci) =>
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        if (a.trace && ci == 0 && j == liveWarmupS + a.seconds / 2) spark.streams.addListener(progressLog)
        val (c, evs) = plans(ci)
        Feed.writeFeedFile(Paths.get(conn.sourceUri, c.watched.collName), f"part-$j%05d.json",
          evs.iterator.slice(j * liveFileEvents, (j + 1) * liveFileEvents))
        written.add(Map("coll" -> c.watched.collName, "file" -> j, "due_ms" -> due,
          "done_ms" -> System.currentTimeMillis()))
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    // drain window: every file must be published within three triggers
    val generated = nFiles.toLong * liveFileEvents
    val drainUntil = System.currentTimeMillis() + 3 * triggerMs
    def published(q: StreamingQuery) = q.recentProgress.map(_.numInputRows).sum
    while (System.currentTimeMillis() < drainUntil && queries.exists(published(_) < generated))
      Thread.sleep(50)
    queries.foreach(_.stop())
    Trace.mark("drained")
    if (a.trace) {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.streams.removeListener(progressLog)
    }

    // ---- per-file epoch join input and checks, outside the timed window
    val failures = ArrayBuffer[String]()
    var failedEvents = 0L
    val files = ArrayBuffer[Map[String, Any]]()
    val byColl = written.asScala.toSeq.groupBy(_("coll"))
    cfgs.zip(queries).foreach { case (c, q) =>
      val name = c.watched.collName
      val queueDir = s"${conn.sinkUri}/${c.queue.streamName}"
      val queue = spark.read.parquet(queueDir)
      val perFile = queue
        .groupBy((col("event_id") / liveFileEvents).cast("long").as("file"))
        .agg(min("epoch").cast("long").as("lo"), max("epoch").cast("long").as("hi"), count(lit(1)).as("n"),
          countDistinct("event_id").as("ids"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      byColl(name).sortBy(_("file").asInstanceOf[Int]).foreach { w =>
        val j = w("file").asInstanceOf[Int]
        val epoch = perFile.get(j.toLong) match {
          case Some((lo, hi, nRows, ids)) if lo == hi && nRows == liveFileEvents && ids == liveFileEvents => Some(lo)
          case Some(other) =>
            failures += s"$name file $j: epochs/rows/ids $other"
            failedEvents += liveFileEvents
            None
          case None =>
            failures += s"$name file $j: unpublished at the end of the drain window"
            failedEvents += liveFileEvents
            None
        }
        files += (w ++ Map("epoch" -> epoch,
          "measured" -> (j >= liveWarmupS), "traced" -> (a.trace && w("due_ms").asInstanceOf[Long] >= traceFromMs)))
      }
      val extra = queue.where(col("event_id") >= generated || col("event_id") < 0).count()
      if (extra > 0) { failures += s"$name: $extra events never generated"; failedEvents += extra }
      if (c.watched.preAndPostImages) {
        val evs = plans.find(_._1 == c).get._2
        val expected = Feed.eventsFrame(spark, evs)
          .select(col("event_id"), col("user_id"), graft.events.ChangeEvents.fullDocumentJson.as("doc"))
          .withColumn("before", lag("doc", 1).over(Window.partitionBy("user_id").orderBy("event_id")))
          .select("event_id", "before")
        val bad = queue.join(expected, Seq("event_id"))
          .where(!col("full_document_before_change").eqNullSafe(col("before"))).count()
        if (bad > 0) { failures += s"$name: $bad before-images differ from the prior image"; failedEvents += bad }
      }
    }
    Trace.mark("checked")
    Map("setup_s" -> (startedMs - jvmStartMs) / 1000.0,
      "files" -> files.toSeq, "file_events" -> liveFileEvents, "file_ms" -> 1000,
      "listener_epochs" -> (if (a.trace) progressLog.drain() else Nil),
      "epochs" -> cfgs.zip(queries).map { case (c, q) => c.watched.collName -> Trace.epochs(q) }.toMap,
      "attempted" -> generated * cfgs.size, "failed" -> failedEvents, "failures" -> failures.toSeq)
  }
}
