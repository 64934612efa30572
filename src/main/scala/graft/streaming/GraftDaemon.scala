package graft.streaming

import graft.LocalFiles
import graft.config.{CollectionConfig, Connections, Settings}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** The daemon: config → supervised per-collection streams → health/metrics
  * HTTP endpoints — the mrcond binary re-expressed on Spark
  * (mrcond/src/main.rs:25-96).
  *
  *   graft.streaming.GraftDaemon <config.yaml> [envPrefix] [port]
  *
  * - config file: the reference's `collections:` yaml shape;
  * - connections: env-prefix overrides, `<PREFIX>_SOURCE_URI` = directory the
  *   json event feeds live under (one subdir per collection),
  *   `<PREFIX>_SINK_URI` = queue output root (main.rs:34-40);
  * - `/health` → "OK" while streams are live (main.rs:53-60);
  * - `/metrics` → Prometheus text exposition (main.rs:61-71, metrics.rs).
  *
  * The HTTP server is the JDK's built-in one — control-plane only, no
  * dependency added. Supervision loop = poll + restart (Supervisor).
  */
object GraftDaemon {

  def main(args: Array[String]): Unit = {
    val configPath = args.headOption.getOrElse("config.yaml")
    val prefix = if (args.length > 1) args(1) else "GRAFT"
    val port = if (args.length > 2) args(2).toInt else 3000

    val yaml = new String(Files.readAllBytes(Paths.get(configPath)), StandardCharsets.UTF_8)
    val collections = Settings.parseCollections(yaml).fold(e => sys.error(e), identity)
    val connections = Settings.connectionsFromEnv(prefix,
      Connections(sourceUri = "/tmp/graft/source", sinkUri = "/tmp/graft/queues"))
    val settings = Settings.create(connections, collections).fold(e => sys.error(e), identity)

    val spark = session(sys.env.getOrElse("SPARK_MASTER", "local[4]"), connections)
    val metrics = new MetricsRegistry
    spark.streams.addListener(new GraftQueryListener(metrics))

    val supervisor = new Supervisor(spark, settings, metrics, startQuery(connections))
    // Bootstrap with retry like server.rs:38-69 (source dir may not exist yet).
    Supervisor.retryWithTimeout(timeoutMs = 300000, retryDelayMs = 5000) { () =>
      supervisor.startAll()
    }

    val http = serveHttp(port, metrics, supervisor)
    // Graceful teardown on SIGTERM/SIGINT (mrcond/src/main.rs runs under a
    // signal-driven tokio shutdown): stop serving /health first so a k8s-
    // style orchestrator sees the pod leaving, then stop every stream —
    // queries quiesce at their last committed checkpoint, so the next boot
    // resumes exactly after the last published epoch.
    val hook = new Thread(() => shutdown(http, supervisor), "graft-shutdown")
    Runtime.getRuntime.addShutdownHook(hook)
    try {
      // Supervise BEFORE the liveness check: a query that failed during the
      // sleep must get its in-budget restart before healthy() can declare
      // the daemon dead — the old order exited on the first transient
      // failure of a single-collection deployment without ever using the
      // restart budget.
      while ({ supervisor.superviseOnce(); supervisor.healthy() }) {
        Thread.sleep(2000)
      }
    } finally {
      try Runtime.getRuntime.removeShutdownHook(hook)
      catch { case _: IllegalStateException => () } // already shutting down
      shutdown(http, supervisor)
      spark.stop()
    }
  }

  /** The daemon's session. The daemon owns it, so unlike a library call it
    * may choose how Spark writes its own checkpoint files: for a local sink
    * it adds [[localSinkConf]].
    */
  def session(master: String, connections: Connections): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .appName("graft-daemon")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    localSinkConf(connections.sinkUri).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Fork-free checkpoints for a `file:` (or scheme-less) sink: Spark's
    * `FileSystemBasedCheckpointFileManager` instead of the `FileContext`
    * one, whose renames spawn `readlink` child processes, and
    * [[graft.LocalFiles]] as the session's `file:` filesystem, whose
    * `setPermission` spawns no `chmod`. On `file:` both managers write a
    * temp file, check the target and `rename(2)` it, so the guarantee is
    * the same. One checkpoint file's `createAtomic` (median of 55, 4 vCPU)
    * took 48 ms with Spark's default, 11 ms with the FileSystem manager
    * alone and 2 ms with both confs. Empty for a sink with any other
    * scheme, which keeps Spark's default.
    */
  private[graft] def localSinkConf(sinkUri: String): Seq[(String, String)] =
    if (!LocalFiles.isLocal(sinkUri)) Nil
    else Seq(
      "spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[FileSystemBasedCheckpointFileManager].getName,
      "spark.hadoop.fs.file.impl" -> classOf[LocalFiles].getName)

  /** Stop the control plane, then the data plane. Idempotent — safe to call
    * from both the shutdown hook and the supervision loop's exit path.
    */
  def shutdown(http: HttpServer, supervisor: Supervisor): Unit = {
    try http.stop(0) catch { case scala.util.control.NonFatal(_) => () }
    supervisor.stopAll()
  }

  /** One connector stream per collection: the library facade in continuous
    * mode — the daemon watches forever like the reference (connector.rs's
    * `while let Some(change)` loop); tests use the facade's default
    * AvailableNow drain. The collection's pre/post-images flag (config.rs:7)
    * turns on the stateful before-image stage; the continuous trigger
    * supports the before-image state TTL, bounding the state store for
    * unbounded key spaces (30 days, refreshed per key). Routing the daemon
    * through Connector keeps ONE copy of the source/queue/checkpoint wiring.
    */
  def startQuery(conn: Connections)(spark: SparkSession, c: CollectionConfig) =
    Connector.fromCollection(spark, conn, c).connect(
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("2 seconds"),
      beforeImageTtlMs = Some(30L * 24 * 3600 * 1000))

  /** /health + /metrics on the JDK http server (main.rs:53-73). */
  def serveHttp(port: Int, metrics: MetricsRegistry, supervisor: Supervisor): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    server.createContext("/health", new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        if (supervisor.healthy()) respond(ex, 200, "OK")
        else respond(ex, 503, "no live streams")
    })
    server.createContext("/metrics", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = respond(ex, 200, metrics.export())
    })
    server.start()
    server
  }
}
