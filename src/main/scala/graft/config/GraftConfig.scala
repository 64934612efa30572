package graft.config

/** Typed configuration mirroring the reference's config surface
  * (mrcon/src/config.rs):
  *  - WatchedDb(db_name, coll_name, change_stream_pre_and_post_images)
  *  - ResumeTokensDB(tokens_db_name, tokens_coll_name, capped, size)
  *  - RabbitMq(stream_name)  → here: the sink queue name
  *  - Collection = watched + resume_tokens + rabbitmq
  *  - Settings   = connections + collections, with duplicate-collection
  *    rejection (config.rs:44-58) and env-prefix connection overrides
  *    (mrcond/src/main.rs:34-46).
  */
final case class WatchedDb(dbName: String, collName: String,
                           preAndPostImages: Boolean = false)

final case class ResumeTokensDb(tokensDbName: String, tokensCollName: String,
                                capped: Option[Boolean] = None,
                                sizeInBytes: Option[Long] = None)

final case class QueueSink(streamName: String)

final case class CollectionConfig(watched: WatchedDb, resumeTokens: ResumeTokensDb,
                                  queue: QueueSink)

final case class Connections(sourceUri: String, sinkUri: String)

/** Validated settings. Construct via [[Settings.create]]. */
final case class Settings private (connections: Connections,
                                   collections: Vector[CollectionConfig])

object Settings {
  /** Duplicate-configuration validation (config.rs:44-58): two identical
    * collection configs are a user error — reject with both indices. So are
    * two configs that watch the same `db_name.coll_name` under different
    * queues: a namespace is one supervised stream and one Spark query name,
    * so the second config would never start.
    */
  def create(connections: Connections,
             collections: Seq[CollectionConfig]): Either[String, Settings] = {
    val seen = scala.collection.mutable.HashMap[(String, String), (CollectionConfig, Int)]()
    collections.zipWithIndex.foreach { case (c, i) =>
      val ns = (c.watched.dbName, c.watched.collName)
      seen.get(ns).foreach { case (first, prev) =>
        return Left(
          if (first == c) s"Duplicate collection configuration found at index $i and $prev: $c"
          else s"Collection ${ns._1}.${ns._2} is watched by the configurations at index $i and $prev: $c")
      }
      seen.update(ns, (c, i))
    }
    Right(Settings(connections, collections.toVector))
  }

  /** Env-prefix connection overrides (main.rs:34-40: `config::Environment`
    * with prefix): `<PREFIX>_SOURCE_URI` / `<PREFIX>_SINK_URI` win over the
    * passed-in defaults.
    */
  def connectionsFromEnv(prefix: String, defaults: Connections,
                         env: Map[String, String] = sys.env): Connections =
    Connections(
      sourceUri = env.getOrElse(s"${prefix}_SOURCE_URI", defaults.sourceUri),
      sinkUri = env.getOrElse(s"${prefix}_SINK_URI", defaults.sinkUri))

  /** Minimal config-file loader for the reference's YAML shape
    * (mrcond/tests/data/simple/config.yaml): a `collections:` list of
    * flat key: value blocks. Supports exactly that subset — two-space
    * indentation, `- ` item markers, scalar values — which keeps the loader
    * dependency-free (no YAML lib ships with Spark).
    */
  def parseCollections(yaml: String): Either[String, Vector[CollectionConfig]] = {
    val items = scala.collection.mutable.ArrayBuffer[Map[String, String]]()
    var current: Map[String, String] = null
    def stripComment(s: String): String = {
      // strip '#' comments only outside quoted scalars
      var inQuote = false
      val i = s.indexWhere {
        case '"' => inQuote = !inQuote; false
        case '#' => !inQuote
        case _ => false
      }
      if (i < 0) s else s.substring(0, i)
    }
    yaml.linesIterator.foreach { raw =>
      val line = stripComment(raw)
      val t = line.trim
      if (t.nonEmpty && t != "collections:") {
        val isItemStart = line.dropWhile(_ == ' ').startsWith("- ")
        val kv = (if (isItemStart) t.drop(2) else t).split(":", 2)
        if (kv.length != 2) return Left(s"Unparseable config line: $raw")
        if (isItemStart) { if (current != null) items += current; current = Map() }
        if (current == null) return Left(s"Key outside a collection item: $raw")
        current += (kv(0).trim -> kv(1).trim.stripPrefix("\"").stripSuffix("\""))
      }
    }
    if (current != null) items += current
    val out = items.zipWithIndex.map { case (m, i) =>
      def req(k: String): Either[String, String] =
        m.get(k).toRight(s"collections[$i]: missing required key '$k'")
      // Malformed VALUES report Left with file context like every other
      // malformation — a bare .toBoolean/.toLong would crash out of the
      // Either contract with a context-free NumberFormatException.
      def optBool(k: String): Either[String, Option[Boolean]] =
        m.get(k).map(_.trim) match {
          case None => Right(None)
          case Some(v) => v.toBooleanOption
            .toRight(s"collections[$i]: '$k' must be true/false, got '$v'").map(Some(_))
        }
      def optLong(k: String): Either[String, Option[Long]] =
        m.get(k).map(_.trim) match {
          case None => Right(None)
          case Some(v) => v.toLongOption
            .toRight(s"collections[$i]: '$k' must be an integer, got '$v'").map(Some(_))
        }
      for {
        db <- req("db_name"); coll <- req("coll_name")
        tdb <- req("tokens_db_name"); tcoll <- req("tokens_coll_name")
        queue <- req("stream_name")
        images <- optBool("change_stream_pre_and_post_images")
        capped <- optBool("tokens_coll_capped")
        capBytes <- optLong("tokens_coll_size_in_bytes")
      } yield CollectionConfig(
        WatchedDb(db, coll, images.getOrElse(false)),
        ResumeTokensDb(tdb, tcoll, capped, capBytes),
        QueueSink(queue))
    }
    out.collectFirst { case Left(e) => e } match {
      case Some(e) => Left(e)
      case None => Right(out.collect { case Right(c) => c }.toVector)
    }
  }
}
