package graft.ops

import com.fasterxml.jackson.databind.JsonNode
import graft.{Caches, LocalFiles, PartFiles}
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.nio.file.{Files, StandardCopyOption}
import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

/** D22 — snapshot-versioned parquet table ("Delta-lite"): commits publish an
  * immutable MANIFEST naming exactly the data files of one snapshot, and the
  * manifest is always written LAST via an atomic rename — so a reader
  * resolves one manifest and reads one complete snapshot, never a mix of
  * two commits and never a half-written one (the same commit discipline as
  * D12's corpus manifest and D11's swap, promoted to a multi-version log).
  * What this buys a 100 TB lake without a table-format dependency:
  *
  *  - time-travel reads: `read(dir, version)` pins any retained snapshot —
  *    the reproducibility contract a training run needs ("the corpus AS OF
  *    the run's manifest"), and what plain directory reads cannot give once
  *    a writer overwrites in place;
  *  - atomic replace: a new commit becomes visible in one rename; concurrent
  *    readers keep whichever snapshot they resolved;
  *  - rollback: a new manifest re-referencing an old snapshot's files —
  *    O(manifest) metadata, no data rewrite;
  *  - vacuum: delete data files no retained manifest references — safe by
  *    construction because references, not directory listings, define the
  *    table.
  *
  * Layout: `dir/data/v<N>-<token>-<i>.parquet` (files never mutated after
  * commit; names are OPAQUE — only the manifest's reference list defines a
  * snapshot), `dir/manifest-v<N>.json` (version, file names, file count).
  *
  * Metadata is read from the table's files and nowhere else: one private
  * [[snapshot]] opens and parses a manifest into a typed value (files, dv
  * pointers, per-file stats, epoch, carried max epoch, op, ts), and each
  * operation resolves the head once and passes that snapshot down. No
  * driver memo sits beside the files, so a table another process rewrote,
  * or one deleted and recreated under the same path, is read as it now
  * is. A commit carries the stats of the files it keeps from the snapshot
  * they came from; only newly staged files get a footer read. The epoch
  * replay guard ([[epochGuarded]]) reads the head's `max_epoch` fresh and
  * hands that same snapshot to the commit or merge it guards.
  *
  * Concurrency (the Delta protocol in miniature): version `N` belongs to
  * whoever PUBLISHES `manifest-v<N>.json` first — publication is an atomic
  * create-if-absent ([[createIfAbsent]]: temp write, then `link(2)` on a
  * `file:` table or a no-overwrite `FileContext` rename elsewhere, the HDFS
  * put-if-absent primitive; plus a per-dir JVM monitor that closes the
  * local-filesystem exists/publish TOCTOU window for same-process
  * writers). Every commit is one of three kinds, and each kind has exactly
  * one publish path:
  * - **replace** ([[publishReplace]]: commit, checked commit, merge,
  *   deleteWhere, optimize): the head observed before staging must still
  *   be the head at publish, else [[Versioned.ConcurrentWriteException]] —
  *   a replace that raced would clobber a snapshot it never saw, so the
  *   caller re-derives from the new head. The winner's snapshot is
  *   untouched and the loser's staged files are debris vacuum reclaims;
  * - **rebase** ([[publishRebased]]: append, checked append, rollback):
  *   the content commutes with any concurrent commit, so a lost publish
  *   re-reads the new head and republishes on top of it — both writers'
  *   rows land, serialized, no lost files;
  * - **epoch** ([[epochGuarded]]: epochWriter, epochMergeWriter): a
  *   streaming epoch commits through one of the above at most once — a
  *   replayed epoch is a no-op, a lost race re-checks and retries.
  * Staging dirs, manifest temps, and data-file names all carry a per-commit
  * random token, so concurrent attempts never collide on intermediate
  * paths either. Readers are unrestricted throughout. (On stores whose
  * rename cannot fail-if-present — e.g. S3 without a coordination layer —
  * cross-PROCESS publication needs an external lock, same as Delta's
  * LogStore contract; same-JVM writers are always safe via the monitor.)
  *
  * Data files are written by [[graft.PartFiles]], the one part-file
  * writer graft's epoch sink writes through too, into a staging dir, and
  * each is then renamed into `data/` ([[stage]]). A local (`file:`) table
  * is written through [[graft.LocalFiles]], and its manifests and tags
  * publish by hard link, so no commit step starts a `chmod` or `readlink`
  * child process ([[retag]]'s overwrite rename still goes through
  * `FileContext`).
  */
object Versioned {

  /** A REPLACE commit lost the publish race to a concurrent committer (see
    * the object doc): the table moved under it, and replacing a snapshot
    * the caller never observed is not safe to retry blindly.
    */
  final class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The filesystem every manifest, tag and staging call goes through:
    * [[graft.LocalFiles]] for a local table, so `mkdirs` and `create` set
    * modes without a `chmod` child process; the session's own filesystem
    * for any other scheme.
    */
  private def fsOf(spark: SparkSession, p: Path) =
    LocalFiles.fileSystem(p, spark.sparkContext.hadoopConfiguration)

  private def manifestPath(dir: String, v: Long) = new Path(dir, f"manifest-v$v%d.json")

  /** All committed versions, ascending; empty for a fresh/absent dir. */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new Path(dir)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) return Nil
    fs.listStatus(p).map(_.getPath.getName)
      .collect { case n if n.startsWith("manifest-v") && n.endsWith(".json") =>
        n.stripPrefix("manifest-v").stripSuffix(".json").toLong
      }.sorted.toSeq
  }

  /** Per-column min/max of one data file: column → (type, min, max), the
    * type `l` (long), `d` (double) or `s` (string).
    */
  private[graft] type ColStats = Map[String, (String, Any, Any)]

  /** One version's manifest, parsed: what [[snapshot]] hands every
    * operation. `stats` (D22f) holds only the files with usable stats;
    * `maxEpoch` is None on a manifest written before `max_epoch` existed,
    * `ts` on one written before the operation log (D22i).
    */
  private final case class Snapshot(version: Long, files: Seq[String],
                                    dvs: Map[String, String], stats: Map[String, ColStats],
                                    epoch: Long, maxEpoch: Option[Long], op: String,
                                    ts: Option[Long])

  /** Open and parse `manifest-v<v>.json`: the one read of a manifest.
    * Nothing is memoized beside the files, so an operation always sees the
    * table as its files now are, also after another process rewrote or
    * recreated it.
    */
  private def snapshot(spark: SparkSession, dir: String, v: Long): Snapshot = {
    val in = fsOf(spark, new Path(dir)).open(manifestPath(dir, v))
    val node = try mapper.readTree(in) finally in.close()
    def fields[T](n: JsonNode)(f: JsonNode => T): Map[String, T] =
      VectorMap.from(n.properties().iterator.asScala.map(e => e.getKey -> f(e.getValue)))
    def long(key: String) = Option(node.get(key)).map(_.asLong())
    Snapshot(v, node.path("files").asScala.map(_.asText()).toVector,
      fields(node.path("dvs"))(_.asText()),
      fields(node.path("stats"))(fields(_) { c =>
        val t = c.get("t").asText()
        t match {
          case "l" => (t, c.get("min").asLong(), c.get("max").asLong())
          case "d" => (t, c.get("min").asDouble(), c.get("max").asDouble())
          case _ => (t, c.get("min").asText(), c.get("max").asText())
        }
      }),
      node.path("epoch").asLong(-1L), long("max_epoch"),
      Option(node.get("op")).fold("commit")(_.asText()), long("ts"))
  }

  /** The latest snapshot, None for an empty or absent table. */
  private def head(spark: SparkSession, dir: String): Option[Snapshot] =
    versions(spark, dir).lastOption.map(snapshot(spark, dir, _))

  /** Snapshot `version`, or the latest when ≤ 0; it must exist. */
  private def resolve(spark: SparkSession, dir: String, version: Long): Snapshot = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no committed versions under $dir")
    val v = if (version > 0) version else vs.last
    require(vs.contains(v), s"version $v not present under $dir (have $vs)")
    snapshot(spark, dir, v)
  }

  // ---- D22f: per-file column min/max (data skipping) ----------------------

  /** Min/max per top-level primitive column of one data file, read from the
    * parquet footer on the driver (metadata only, no row reads). A column
    * qualifies only when every row group recorded usable stats (an
    * all-null group contributes nothing and is fine; a group with stats
    * MISSING disqualifies — pruning must never guess). Unsupported types
    * and unreadable files yield no entry — data skipping degrades to
    * reading the file, never to wrong answers. A commit reads the footers
    * of the files its basis snapshot has no stats for: its newly staged
    * files, or every file under a manifest without a stats block.
    */
  private def footerStats(spark: SparkSession, dir: String, name: String): Option[ColStats] =
    try {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(dir, s"data/$name"), spark.sparkContext.hadoopConfiguration))
      val chunks = try reader.getFooter.getBlocks.asScala.toSeq
        .flatMap(_.getColumns.asScala).filter(_.getPath.size == 1)
        finally reader.close()
      val cols = chunks.map(_.getPath.toDotString).distinct.flatMap { c =>
        val own = chunks.filter(_.getPath.toDotString == c)
        val bounds =
          if (own.exists(cc => cc.getStatistics == null || cc.getStatistics.isEmpty)) Seq(None)
          else own.filter(_.getStatistics.hasNonNullValue).map(chunkBounds)
        Option.when(bounds.nonEmpty && bounds.forall(_.nonEmpty))(c -> bounds.flatten.reduce(widen))
      }
      Option.when(cols.nonEmpty)(VectorMap.from(cols))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** One row group's bounds for a column chunk; None for a type pruning
    * does not support.
    */
  private def chunkBounds(cc: ColumnChunkMetaData): Option[(String, Any, Any)] = {
    val st = cc.getStatistics
    def bounds(t: String, f: Any => Any) = Some((t, f(st.genericGetMin), f(st.genericGetMax)))
    cc.getPrimitiveType.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT64 | PrimitiveTypeName.INT32 => bounds("l", toL)
      case PrimitiveTypeName.DOUBLE | PrimitiveTypeName.FLOAT => bounds("d", toD)
      case PrimitiveTypeName.BINARY
        if cc.getPrimitiveType.getLogicalTypeAnnotation == LogicalTypeAnnotation.stringType() =>
        bounds("s", _.asInstanceOf[Binary].toStringUsingUTF8)
      case _ => None
    }
  }

  private def widen(a: (String, Any, Any), b: (String, Any, Any)): (String, Any, Any) = a._1 match {
    case "l" => ("l", math.min(toL(a._2), toL(b._2)), math.max(toL(a._3), toL(b._3)))
    case "d" => ("d", math.min(toD(a._2), toD(b._2)), math.max(toD(a._3), toD(b._3)))
    case t => (t, Seq(a._2, b._2).map(_.toString).min, Seq(a._3, b._3).map(_.toString).max)
  }

  /** The committed stats block of one version: file name → column →
    * (type, min, max). Files without usable stats are absent — every
    * consumer must treat absence as "cannot prune". Exposed for specs and
    * external planners; [[prunedRead]] and [[merge]] consume it internally.
    */
  def fileStats(spark: SparkSession, dir: String,
                version: Long = -1L): Map[String, Map[String, (String, Any, Any)]] =
    resolve(spark, dir, version).stats

  /** D28 — the snapshot's deletion-vector pointers: data file name → dv
    * sidecar name. Empty for dv-free snapshots and pre-D28 manifests.
    */
  def dvsOf(spark: SparkSession, dir: String, v: Long): Map[String, String] =
    snapshot(spark, dir, v).dvs

  /** The LIVE deletion-vector rows (file, pos) masking `restrict`'s files:
    * each dv sidecar is read once and filtered to the rows whose data file
    * still POINTS at it — a file re-deleted later points at a newer
    * sidecar, so its rows in the older shared sidecar are dead metadata
    * (vacuumable with the manifest that referenced them), never reapplied.
    */
  private def dvRowsFor(spark: SparkSession, dir: String,
                        dvs: Map[String, String],
                        restrict: Seq[String]): DataFrame = {
    val rel = dvs.filter { case (f, _) => restrict.contains(f) }
    val sess = spark
    import sess.implicits._
    if (rel.isEmpty) Seq.empty[(String, Long)].toDF("file", "pos")
    else {
      val pointers = rel.toSeq.toDF("file", "_dv_src")
      spark.read.parquet(rel.values.toSeq.distinct.map(n => s"$dir/data/$n"): _*)
        .select(col("file"), col("pos"),
          element_at(split(col("_metadata.file_path"), "/"), -1).as("_dv_src"))
        .join(broadcast(pointers), Seq("file", "_dv_src"))
        .select("file", "pos")
    }
  }

  /** The data files `names`, schema-reconciled across them when asked. */
  private def scan(spark: SparkSession, dir: String, names: Seq[String],
                   mergeSchema: Boolean): DataFrame =
    (if (mergeSchema) spark.read.option("mergeSchema", "true") else spark.read)
      .parquet(names.map(n => s"$dir/data/$n"): _*)

  /** The live rows of `names` — a broadcast anti-join of the scan against
    * the dv rows on physical (file, position) identity — with two
    * synthetic columns appended: `_gdv_f` (the file's base name) and
    * `_gdv_p` (the row's ordinal inside that file), parquet's `_metadata`
    * constant columns, zero extra I/O. The (file, position) pair is what a
    * deletion vector masks and what [[deleteWhere]] records.
    */
  private def liveWithPos(spark: SparkSession, dir: String, names: Seq[String],
                          dvs: Map[String, String],
                          mergeSchema: Boolean = false): DataFrame = {
    val df = scan(spark, dir, names, mergeSchema)
    require(!df.columns.contains("_gdv_f") && !df.columns.contains("_gdv_p"),
      "table schema collides with the reserved _gdv_f/_gdv_p columns")
    val mask = dvRowsFor(spark, dir, dvs, names)
      .withColumnRenamed("file", "_gdv_f").withColumnRenamed("pos", "_gdv_p")
    df.select(col("*"),
      element_at(split(col("_metadata.file_path"), "/"), -1).as("_gdv_f"),
      col("_metadata.row_index").as("_gdv_p"))
      .join(broadcast(mask), Seq("_gdv_f", "_gdv_p"), "left_anti")
  }

  /** Read `names` with the snapshot's deletion vectors APPLIED
    * ([[liveWithPos]]). DV-free reads take the plain-scan branch — a table
    * that never deletes pays zero plan change. The dv side is broadcast by
    * construction: deletion vectors are the SMALL-delete path (GDPR
    * erasure, spot retractions); bulk deletes belong to [[merge]]'s
    * copy-on-write rewrite.
    */
  private def readApplied(spark: SparkSession, dir: String, names: Seq[String],
                          dvs: Map[String, String],
                          mergeSchema: Boolean = false): DataFrame =
    if (!dvs.keys.exists(names.contains)) scan(spark, dir, names, mergeSchema)
    else liveWithPos(spark, dir, names, dvs, mergeSchema).drop("_gdv_f", "_gdv_p")

  /** Per-commit random token: staging dirs, manifest temps, and data-file
    * names all embed one, so concurrent commit ATTEMPTS never collide on
    * intermediate paths (only the manifest publish itself is contended,
    * and that is the atomic create-if-absent).
    */
  private def newToken(): String =
    java.util.UUID.randomUUID.toString.replace("-", "").take(8)

  /** Per-dir JVM monitor serializing resolve→publish for same-process
    * writers — closes the exists/rename TOCTOU window local filesystems
    * leave open. Cross-process safety rides on the store's no-overwrite
    * rename (HDFS FileContext contract).
    */
  private val dirLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(dir: String): Object =
    dirLocks.computeIfAbsent(dir, _ => new Object)

  /** The max streaming epoch carried by snapshot `head`, −1 for an empty
    * log: its `max_epoch`, read with the snapshot. Manifests written before
    * the field existed fall back to one scan across the retained manifests'
    * own `epoch` fields — the pre-r13 guard — so existing tables keep their
    * replay protection.
    */
  private def carriedMax(spark: SparkSession, dir: String, head: Option[Snapshot]): Long =
    head.fold(-1L)(_.maxEpoch.getOrElse(
      versions(spark, dir).map(snapshot(spark, dir, _).epoch).foldLeft(-1L)(math.max)))

  /** Atomically publish `manifest-v<v>.json`, claiming version `v`
    * ([[createIfAbsent]]). Returns false when some other committer already
    * owns `v`. The epoch carry (see [[maxEpoch]]) derives from `prevMax`,
    * the PRIOR manifest's, so a concurrent writer's higher epoch is never
    * laundered away. `known` holds the stats of the files carried from the
    * snapshot they came from.
    */
  private[graft] def publishManifest(spark: SparkSession, dir: String, v: Long,
                                     files: Seq[String], epoch: Long,
                                     prevMax: Long,
                                     dvs: Map[String, String] = Map.empty,
                                     op: String = "commit",
                                     known: Map[String, ColStats] = Map.empty): Boolean = {
    val node = mapper.createObjectNode()
    node.put("version", v)
    // D22i: the operation log — which kind of commit produced this version
    // and when (wall clock at publish) — powers [[history]] and [[readAsOf]]
    node.put("op", op)
    node.put("ts", System.currentTimeMillis())
    node.put("epoch", epoch)
    node.put("max_epoch", math.max(epoch, prevMax))
    node.put("n_files", files.size)
    val arr = node.putArray("files")
    files.foreach(arr.add)
    // D28: deletion-vector pointers — data file name → the dv sidecar
    // holding its deleted row positions. Absent for dv-free snapshots, so
    // pre-D28 manifests and tables that never delete pay nothing.
    if (dvs.nonEmpty) {
      val dvNode = node.putObject("dvs")
      dvs.toSeq.sortBy(_._1).foreach { case (f, d) => dvNode.put(f, d) }
    }
    // D22f: per-file column min/max for data skipping. Carried files keep
    // their stats; the rest pay a footer read ([[footerStats]]). A file
    // with no usable stats is simply absent: readers then cannot prune it,
    // never misread it.
    val statsNode = node.putObject("stats")
    files.foreach { n =>
      known.get(n).orElse(footerStats(spark, dir, n)).foreach { cols =>
        val fileNode = statsNode.putObject(n)
        cols.foreach { case (c, (t, mn, mx)) =>
          val cn = fileNode.putObject(c).put("t", t)
          (mn, mx) match {
            case (a: Long, b: Long) => cn.put("min", a).put("max", b)
            case (a: Double, b: Double) => cn.put("min", a).put("max", b)
            case (a, b) => cn.put("min", a.toString).put("max", b.toString)
          }
        }
      }
    }
    // create-if-absent from a temp: the manifest appears atomically or not
    // at all — a crash mid-commit leaves data files with NO manifest, which
    // vacuum reclaims and readers never see
    createIfAbsent(spark, dir, s"_manifest-v$v",
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node), manifestPath(dir, v))
  }

  /** Write `bytes` to a token-unique temp `dir/<prefix>-<token>.json.tmp`;
    * a crashed one is debris [[vacuum]] reclaims.
    */
  private def writeTemp(fs: FileSystem, dir: String, prefix: String,
                        bytes: Array[Byte]): Path = {
    val tmp = new Path(dir, s"$prefix-${newToken()}.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    tmp
  }

  /** Publish `bytes` at `target` only if nothing is there yet: the one
    * create-if-absent that every manifest and tag rests on. The bytes go
    * to a temp first ([[writeTemp]]), so `target` appears complete or not
    * at all. On a `file:` table the temp is hard-linked to `target`
    * (`link(2)` fails when the target exists) and its `.crc` sidecar is
    * renamed after it; on any other scheme it is a `FileContext` rename
    * with `Rename.NONE`, the HDFS put-if-absent. No temp survives either
    * way. Returns whether this call created `target`.
    */
  private def createIfAbsent(spark: SparkSession, dir: String, prefix: String,
                             bytes: Array[Byte], target: Path): Boolean = {
    val fs = fsOf(spark, new Path(dir))
    val tmp = writeTemp(fs, dir, prefix, bytes)
    val won = fs match {
      case local: LocalFileSystem =>
        def file(p: Path) = local.pathToFile(p).toPath
        val linked =
          try { Files.createLink(file(target), file(tmp)); true }
          catch { case _: java.nio.file.FileAlreadyExistsException => false }
        if (linked) Files.move(file(local.getChecksumFile(tmp)),
          file(local.getChecksumFile(target)), StandardCopyOption.REPLACE_EXISTING)
        linked
      case _ =>
        val to = fs.makeQualified(target)
        try {
          FileContext.getFileContext(to.toUri, spark.sparkContext.hadoopConfiguration)
            .rename(fs.makeQualified(tmp), to, Options.Rename.NONE)
          true
        } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException |
                       _: java.nio.file.FileAlreadyExistsException |
                       _: org.apache.hadoop.fs.PathExistsException => false }
    }
    fs.delete(tmp, false)
    won
  }

  /** The max streaming epoch ever committed to the table, −1 if none:
    * the latest manifest's carried-forward `max_epoch` ([[carriedMax]]).
    */
  def maxEpoch(spark: SparkSession, dir: String): Long =
    carriedMax(spark, dir, head(spark, dir))

  /** The streaming epoch recorded in version `v`'s manifest (-1 for plain
    * batch commits).
    */
  def epochOf(spark: SparkSession, dir: String, v: Long): Long =
    snapshot(spark, dir, v).epoch

  /** Attempts a rebase publish or an epoch makes before it gives up. */
  private val commitAttempts = 50

  /** The one epoch guard, behind [[epochWriter]] and [[epochMergeWriter]]:
    * `write` runs only for an epoch above the table's MAX epoch, so a
    * crash-replayed epoch is a no-op. Each attempt reads the head snapshot
    * from the table's files and hands `write` that same snapshot as its
    * basis, so the guard and the commit it guards see one head, and a
    * table deleted and recreated under the same path starts from no
    * epochs. A [[ConcurrentWriteException]] means a batch committer won
    * the publish race mid-epoch: the guard re-reads the head and retries,
    * so the retry is idempotent; the lost attempt's staged files are
    * vacuum debris.
    *
    * It guards on the MAX epoch, not the latest manifest's own epoch: a
    * rollback() or plain batch commit() interleaved with the streaming
    * sink writes epoch −1 (or an older epoch) into the newest manifest, and
    * a latest-only read of `epoch` would reset the guard — letting a
    * crash-replayed epoch re-commit (double-publish) despite the
    * idempotence contract (ADVICE r11). Since every manifest carries the
    * max forward (`max_epoch`), the read is one field of the head manifest
    * the commit reads anyway, and vacuum cannot erase it (ADVICE r12).
    */
  private def epochGuarded(dir: String, what: String)
                          (write: (SparkSession, DataFrame, Long, Option[Snapshot]) => Long)
      : (DataFrame, Long) => Unit =
    (df, epoch) => {
      val s = df.sparkSession
      val done = Iterator.continually {
        val basis = head(s, dir)
        epoch <= carriedMax(s, dir, basis) ||
          (try { write(s, df, epoch, basis); true }
           catch { case _: ConcurrentWriteException => false })
      }.take(commitAttempts).exists(identity)
      if (!done) sys.error(
        s"epoch $epoch $what could not publish to $dir after $commitAttempts attempts " +
          "(pathological contention with batch committers)")
    }

  /** D22b — epoch-idempotent `foreachBatch` sink: commit each micro-batch's
    * full result as a new version of the table — a streaming MATERIALIZED
    * VIEW with time travel (every epoch stays pinnable until vacuumed).
    * Structured Streaming replays the last uncommitted epoch after a crash
    * (the checkpoint advances only after foreachBatch returns), so a replay
    * of an epoch the table already holds must be a no-op — otherwise the
    * restart double-publishes. The guard is the manifest's own epoch field
    * ([[epochGuarded]]): strictly-greater epochs commit, replays skip. ONE
    * streaming query per table dir owns its epochs; interleaved batch
    * committers are safe in BOTH directions (r15, ADVICE r14): they publish
    * epoch −1 so the carried max never regresses, and when a batch commit
    * wins the publish race against an epoch (the underlying [[commit]] is
    * replace-flavored and throws), the writer RE-RESOLVES and retries, so
    * the streaming query no longer dies on an interleaved batch write.
    */
  def epochWriter(dir: String): (DataFrame, Long) => Unit =
    epochGuarded(dir, "commit")((s, df, epoch, basis) => commitAt(s, df, dir, epoch, basis))

  /** A5d×D22 (r15) — streaming CDC MERGE sink: a `foreachBatch` writer that
    * applies each micro-batch of change events to a Versioned table as ONE
    * keyed [[merge]] commit, epoch-guarded for crash replay exactly like
    * [[epochWriter]]. This is what turns the connector's change feed into
    * INCREMENTAL table maintenance at 100 TB: `epochWriter` republishes the
    * whole materialization every epoch (replace semantics — O(table)),
    * while this rewrites only the files containing the epoch's touched
    * keys (O(delta) with D22f min/max pruning on a clustered layout). The
    * first epoch against a non-existent table bootstraps it: the batch is
    * folded per key ([[lastOpPerKey]], trailing deletes drop) and
    * committed as v1.
    *
    * Replay/idempotence: the epoch rides the merge commit's manifest, so a
    * crash-replayed epoch sees `epoch <= max_epoch` and no-ops; a batch
    * committer racing mid-epoch surfaces as [[ConcurrentWriteException]]
    * and the merge RETRIES against the new head (merge re-derives from the
    * head, so the retry is always well-defined — the object doc's rule).
    */
  def epochMergeWriter(dir: String, keyCol: String, orderCol: String,
                       opCol: String = "operation_type",
                       deleteOp: String = "delete"): (DataFrame, Long) => Unit =
    epochGuarded(dir, "merge") { (s, df, epoch, basis) =>
      basis.fold(commitAt(s, lastOpPerKey(df, keyCol, orderCol).where(col(opCol) =!= deleteOp)
        .drop(opCol), dir, epoch, None)) {
        mergeOnto(s, df, dir, _, keyCol, orderCol, opCol, deleteOp, epoch, mergeSchema = false)
      }
    }

  /** One net action per key: the change with the highest `orderCol` wins
    * (ties are the caller's to avoid — event ids are unique per key), the
    * same last-op-wins fold as A5d's cdc_apply. Shared by [[merge]] and
    * [[epochMergeWriter]]'s bootstrap.
    */
  private def lastOpPerKey(changes: DataFrame, keyCol: String, orderCol: String): DataFrame =
    changes
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(col(orderCol).desc)))
      .where(col("_rn") === 1)
      .drop("_rn")

  /** Stage `df`'s parquet parts into immutable token-unique names
    * `data/<kind><attempt>-<token>-<i>.parquet` — data files (`kind` "v")
    * and deletion-vector sidecars ("dv-v") alike — returning the placed
    * names. [[graft.PartFiles]], the writer of the epoch sink too, writes
    * them into `_staging-v<attempt>-<token>` as an unpartitioned write, so
    * an empty `df` still stages one schema-only file; each is then renamed
    * into `data/` in task order. A failed write leaves no staging dir. Runs
    * OUTSIDE any lock — the expensive part of a commit is parallel across
    * writers by design; only the manifest publish is contended.
    */
  private def stage(spark: SparkSession, df: DataFrame, dir: String,
                    attempt: Long, kind: String = "v"): Seq[String] = {
    val base = new Path(dir)
    val fs = fsOf(spark, base)
    fs.mkdirs(new Path(base, "data"))
    val tok = newToken()
    val staging = new Path(base, s"_staging-v$attempt-$tok")
    val named = PartFiles.write(df, staging, None).sorted.zipWithIndex.map { case (n, i) =>
      val target = new Path(base, f"data/$kind$attempt%d-$tok-$i%05d.parquet")
      if (!fs.rename(new Path(staging, n), target)) sys.error(s"could not place $n for v$attempt")
      target.getName
    }
    fs.delete(staging, true)
    named
  }

  /** The version a commit on `basis` publishes. */
  private def nextVersion(basis: Option[Snapshot]): Long = basis.fold(1L)(_.version + 1)

  /** The one REPLACE publish: under the dir's monitor, publish `files` as
    * the version after `basis` only while `basis` is still the head and
    * that version is still unclaimed; otherwise throw
    * [[ConcurrentWriteException]] naming the operation — the caller
    * re-derives from the new head (see the object doc). Files carried from
    * `basis` keep its stats. Returns the published version.
    */
  private def publishReplace(spark: SparkSession, dir: String, basis: Option[Snapshot],
                             files: Seq[String], epoch: Long,
                             dvs: Map[String, String], op: String): Long =
    lockFor(dir).synchronized {
      val v = nextVersion(basis)
      if (versions(spark, dir).lastOption != basis.map(_.version) ||
          !publishManifest(spark, dir, v, files, epoch, carriedMax(spark, dir, basis), dvs, op,
            basis.fold(Map.empty[String, ColStats])(_.stats)))
        throw new ConcurrentWriteException(
          s"$op of $dir based on v${v - 1} lost to a concurrent commit (head " +
            s"is now v${versions(spark, dir).lastOption.getOrElse(0L)}); its staged files " +
            "are unreferenced and vacuumable — retry: derive again from the new head")
      v
    }

  /** The one REBASE publish: publish `base(head)`'s files, dv pointers and
    * stats plus the `added` files at the head's next version, re-reading
    * the head and republishing whenever another process claims that
    * version first. For commits whose intent commutes with any concurrent
    * commit: [[append]] rebases onto the head itself, [[rollback]] onto an
    * old snapshot. Returns the published version.
    */
  private def publishRebased(spark: SparkSession, dir: String, epoch: Long, op: String,
                             added: Seq[String] = Nil)
                            (base: Option[Snapshot] => Option[Snapshot]): Long =
    Iterator.continually(lockFor(dir).synchronized {
      val h = head(spark, dir)
      val v = nextVersion(h)
      val b = base(h)
      Some(v).filter(_ => publishManifest(spark, dir, v, b.fold(Seq.empty[String])(_.files) ++ added,
        epoch, carriedMax(spark, dir, h), b.fold(Map.empty[String, String])(_.dvs), op,
        b.fold(Map.empty[String, ColStats])(_.stats)))
    }).take(commitAttempts).collectFirst { case Some(v) => v }.getOrElse(sys.error(
      s"$op to $dir could not publish after $commitAttempts attempts " +
        "(pathological cross-process contention)"))

  /** Commit `df` as the next version (REPLACE semantics): stage the parquet
    * write, move the part files to immutable names under data/, publish the
    * manifest LAST. Returns the new version number. `epoch` tags streaming
    * commits for [[epochWriter]]'s replay guard.
    *
    * Concurrency: the log head is snapshotted BEFORE staging; if any other
    * committer advances the table before this one publishes — or wins the
    * atomic publish itself — the commit throws
    * [[Versioned.ConcurrentWriteException]] rather than replace a snapshot
    * it never observed (see the object doc). The staged files become
    * unreferenced debris that [[vacuum]] reclaims; the winner is untouched.
    */
  def commit(spark: SparkSession, df: DataFrame, dir: String, epoch: Long = -1L): Long =
    commitAt(spark, df, dir, epoch, head(spark, dir))

  /** [[commit]] against an EXPLICIT observed basis — the seam
    * [[commitWithRetry]] needs: its `derive` reads the snapshot BEFORE the
    * commit call, so the conflict check must be anchored at that read, not
    * re-snapshotted at commit entry (a foreign commit landing between the
    * two would otherwise slip a stale derivation through as a clean
    * replace — the classic lost-update TOCTOU). The staged snapshot passes
    * `checks` before it publishes ([[commitChecked]]).
    */
  private def commitAt(spark: SparkSession, df: DataFrame, dir: String, epoch: Long,
                       basis: Option[Snapshot], checks: Seq[Contracts.Check] = Nil): Long = {
    val named = stage(spark, df, dir, nextVersion(basis))
    auditOrAbort(spark, dir, named, checks, "replace")
    publishReplace(spark, dir, basis, named, epoch, Map.empty, "replace")
  }

  /** Commit `df` as an APPEND: the next version's manifest references the
    * previous snapshot's files UNCHANGED plus the newly staged files — the
    * Delta-style append commit. O(new data) write cost however large the
    * table already is, and the file-level delta between two append
    * versions is recoverable from the manifests alone ([[newFiles]]),
    * which is what incremental downstream maintenance consumes.
    *
    * Concurrency: appends commute, so a lost publish race REBASES — the
    * loser re-reads the new latest manifest and republishes (its files ++
    * own staged files) at the next version. Both writers' rows land, in
    * serialized versions, no lost files, no data rewrite on retry (the
    * staged files are version-agnostic; only the manifest is re-derived).
    */
  def append(spark: SparkSession, df: DataFrame, dir: String, epoch: Long = -1L): Long =
    appendAudited(spark, df, dir, Nil, epoch)

  /** The append path of [[append]] and [[appendChecked]]: stage, audit the
    * staged files against `checks`, then rebase-publish the head's files ++
    * the staged ones. A rebase over a deleteWhere carries the head's dv
    * pointers — the append adds files, it never unmasks rows.
    */
  private def appendAudited(spark: SparkSession, df: DataFrame, dir: String,
                            checks: Seq[Contracts.Check], epoch: Long): Long = {
    val named = stage(spark, df, dir, versions(spark, dir).lastOption.getOrElse(0L) + 1)
    auditOrAbort(spark, dir, named, checks, "append")
    publishRebased(spark, dir, epoch, "append", named)(identity)
  }

  /** A data-quality contract rejected a staged write; nothing was
    * published and the staged files were removed. `failures` holds the
    * failing (check, metric) rows.
    */
  final class ContractViolationException(msg: String,
      val failures: Seq[(String, Double)]) extends RuntimeException(msg)

  /** D23×D22 — WRITE-AUDIT-PUBLISH: stage the parquet files, audit the
    * STAGED BYTES with a [[Contracts]] check list, and publish the manifest
    * only if every check passes. Auditing the staged files (not the input
    * plan) means the contract certifies exactly what a reader of the new
    * version will see — re-running the input query could legally produce
    * different rows (non-deterministic sources), and a writer-side bug that
    * corrupts the parquet encoding is caught too. On violation the staged
    * files are deleted and [[ContractViolationException]] carries the
    * failing metrics; the table head never moves — the fail-closed posture
    * a production lakehouse ingest runs (Delta's CHECK constraints, the WAP
    * pattern). Cost at 100 TB: one extra columnar scan of the NEW files
    * only (appends never re-audit history); the check list itself folds to
    * one aggregation pass ([[Contracts.run]]).
    */
  def appendChecked(spark: SparkSession, df: DataFrame, dir: String,
                    checks: Seq[Contracts.Check], epoch: Long = -1L): Long =
    appendAudited(spark, df, dir, checks, epoch)

  /** [[commit]] (REPLACE semantics) behind the same write-audit-publish
    * gate as [[appendChecked]]: the staged snapshot is audited before the
    * conflict-checked publish; a violation aborts with the head untouched.
    */
  def commitChecked(spark: SparkSession, df: DataFrame, dir: String,
                    checks: Seq[Contracts.Check], epoch: Long = -1L): Long =
    commitAt(spark, df, dir, epoch, head(spark, dir), checks)

  /** Audit staged files; on any failing check delete them and throw. No
    * checks, no audit.
    */
  private def auditOrAbort(spark: SparkSession, dir: String, named: Seq[String],
                           checks: Seq[Contracts.Check], kind: String): Unit =
    if (checks.nonEmpty) {
      // bounded collect: one row per check
      val failed = Contracts.run(scan(spark, dir, named, mergeSchema = false), checks)
        .collect()
        .filter(!_.getAs[Boolean]("pass"))
        .map(r => (r.getAs[String]("check"), r.getAs[Double]("metric")))
      if (failed.nonEmpty) {
        val base = new Path(dir)
        val fs = fsOf(spark, base)
        named.foreach(n => fs.delete(new Path(base, s"data/$n"), false))
        throw new ContractViolationException(
          s"$kind to $dir rejected by contract: " +
            failed.map { case (c, m) => s"$c=$m" }.mkString(", "), failed.toSeq)
      }
    }

  /** The data files version `to` references that version `since` does not
    * (file NAMES are immutable once committed, so set difference over the
    * manifests IS the delta). `since` ≤ 0 means "everything in `to`".
    * Returns None when `to` is not a pure append of `since` — files were
    * REMOVED (a replace commit or a rollback landed in between), so a
    * file-level delta does not describe the change and the caller must
    * fall back to a full read.
    */
  def newFiles(spark: SparkSession, dir: String,
               since: Long, to: Long): Option[Seq[String]] = {
    val toS = snapshot(spark, dir, to)
    // since ≤ 0 is a pure LISTING of `to`'s files (callers use it as file
    // identity, not as rows) — dv masking doesn't change what files exist
    if (since <= 0) return Some(toS.files.map(n => s"$dir/data/$n"))
    val sinceS = snapshot(spark, dir, since)
    val sinceF = sinceS.files.toSet
    if (!sinceF.subsetOf(toS.files.toSet)) return None
    // a deleteWhere in the span keeps the file set identical but changes
    // ROWS — surviving files must keep their dv pointer unchanged, and the
    // added files must be unmasked, for the file-level delta to be exact
    val added = toS.files.filterNot(sinceF)
    if (sinceF.exists(f => sinceS.dvs.get(f) != toS.dvs.get(f)) ||
        added.exists(toS.dvs.contains)) None
    else Some(added.map(n => s"$dir/data/$n"))
  }

  /** D22e — row-level CHANGE FEED between two committed versions: what a
    * downstream consumer must apply to move its copy of the table from
    * `from` to `to`, emitted as the table's columns plus `_change_type`.
    * The read-side complement of [[merge]]: merge folds a change set INTO
    * the table; this recovers the net change set OUT of the history.
    *
    * File-level pruning is the scale argument: file names are immutable
    * once committed, so only the files the two manifests DISAGREE on are
    * read — an append's feed reads just the appended files, and a 100 TB
    * table whose commit touched 3 files diffs 3 files' rows, never the
    * table. An [[optimize]] (pure rewrite) reads its rewritten files and
    * correctly nets to an EMPTY feed — which is exactly what [[newFiles]]
    * cannot express (it reports None on any non-append), and why
    * incremental consumers that fall back to full recompute today can use
    * the feed instead.
    *
    * Without `keyCol` the feed is the MULTISET diff (hash-aggregate
    * `exceptAll` both ways over the changed-file rows): `insert` rows in
    * `to` but not `from`, `delete` rows gone. With `keyCol` the feed is
    * keyed like a CDC stream: `insert` (key only in `to`), `delete` (key
    * only in `from`), and a changed key emits `update_preimage` +
    * `update_postimage` — defined for key-unique snapshots, the same
    * contract [[merge]] maintains. Schema evolution across the span is
    * reconciled per side (`mergeSchema`) and the sides aligned on the
    * union of columns, missing ones null.
    *
    * `from` ≤ 0 means "from nothing": every row of `to` as `insert`.
    */
  def changeFeed(spark: SparkSession, dir: String, from: Long, to: Long,
                 keyCol: String = null): DataFrame = {
    val vs = versions(spark, dir)
    require(vs.contains(to), s"version $to not present under $dir (have $vs)")
    require(from <= 0 || vs.contains(from),
      s"version $from not present under $dir (have $vs)")
    val toS = snapshot(spark, dir, to)
    val fromS = Option.when(from > 0)(snapshot(spark, dir, from))
    val (toF, toDvs) = (toS.files, toS.dvs)
    val fromF = fromS.fold(Seq.empty[String])(_.files)
    val fromDvs = fromS.fold(Map.empty[String, String])(_.dvs)
    // a file both manifests share but whose dv POINTER moved changed rows
    // without changing name ([[deleteWhere]]) — read it on both sides,
    // each under its own mask; the diff below nets exactly the masked rows
    val dvChanged = toF.toSet.intersect(fromF.toSet)
      .filter(f => fromDvs.get(f) != toDvs.get(f)).toSeq
    val added = toF.filterNot(fromF.toSet) ++ dvChanged
    val removed = fromF.filterNot(toF.toSet) ++ dvChanged
    def readNames(names: Seq[String], dvs: Map[String, String]): Option[DataFrame] =
      if (names.isEmpty) None
      else Some(readApplied(spark, dir, names, dvs, mergeSchema = true))
    val (aOpt, rOpt) = (readNames(added, toDvs), readNames(removed, fromDvs))
    // union of columns, to-side order first; a side missing a column
    // (evolution across the span) surfaces null for it
    val fields = {
      val changedSides = (aOpt.toSeq ++ rOpt.toSeq).flatMap(_.schema.fields)
      val fs = if (changedSides.nonEmpty) changedSides
               else readApplied(spark, dir, toF, toDvs).schema.fields.toSeq // identical manifests
      fs.foldLeft(Vector.empty[org.apache.spark.sql.types.StructField]) {
        (acc, f) => if (acc.exists(_.name == f.name)) acc else acc :+ f
      }
    }
    def align(df: DataFrame) = df.select(fields.map { f =>
      (if (df.columns.contains(f.name)) col(f.name)
       else lit(null).cast(f.dataType)).as(f.name)
    }: _*)
    val outCols = fields.map(f => col(f.name)) :+ col("_change_type")
    def typed(df: DataFrame, t: String) =
      df.withColumn("_change_type", lit(t)).select(outCols: _*)
    (aOpt.map(align), rOpt.map(align)) match {
      case (Some(a), None) => typed(a, "insert")
      case (None, Some(r)) => typed(r, "delete")
      case (None, None) => // identical manifests: a typed empty frame
        typed(spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(fields)), "insert").limit(0)
      case (Some(a), Some(r)) if keyCol == null =>
        typed(a.exceptAll(r), "insert").unionByName(typed(r.exceptAll(a), "delete"))
      case (Some(a), Some(r)) =>
        val dataCols = fields.map(f => col(f.name))
        val pre = r.select(col(keyCol).as("_k"), struct(dataCols: _*).as("_pre"))
        val post = a.select(col(keyCol).as("_k"), struct(dataCols: _*).as("_post"))
        val j = pre.join(post, Seq("_k"), "full_outer")
        val inserts = typed(j.where(col("_pre").isNull)
          .select(fields.map(f => col("_post." + f.name).as(f.name)): _*), "insert")
        val deletes = typed(j.where(col("_post").isNull)
          .select(fields.map(f => col("_pre." + f.name).as(f.name)): _*), "delete")
        val changed = j.where(col("_pre").isNotNull && col("_post").isNotNull &&
          col("_pre") =!= col("_post"))
        val preRows = typed(changed
          .select(fields.map(f => col("_pre." + f.name).as(f.name)): _*), "update_preimage")
        val postRows = typed(changed
          .select(fields.map(f => col("_post." + f.name).as(f.name)): _*), "update_postimage")
        inserts.unionByName(deletes).unionByName(preRows).unionByName(postRows)
    }
  }

  /** Read a snapshot: the pinned `version`, or the latest when ≤ 0. Reads
    * exactly the manifest's files — concurrent commits and un-vacuumed
    * stale files are invisible by construction — with the snapshot's
    * deletion vectors applied ([[deleteWhere]]); dv-free snapshots keep
    * the plain-scan plan.
    *
    * `mergeSchema = true` reconciles schema ACROSS the snapshot's files —
    * the schema-evolution read for append chains whose later appends added
    * columns (earlier rows surface null for them, parquet's standard
    * evolution semantics). Opt-in because reconciliation reads every
    * file's footer up front: cheap per append batch, not something the
    * default read path should pay on a 100 TB table whose schema never
    * moved.
    */
  def read(spark: SparkSession, dir: String, version: Long = -1L,
           mergeSchema: Boolean = false): DataFrame = {
    val snap = resolve(spark, dir, version)
    readApplied(spark, dir, snap.files, snap.dvs, mergeSchema)
  }

  /** D22f — stats-pruned range read: rows of a snapshot where `colName` ∈
    * [lo, hi], reading ONLY the files whose committed min/max overlap the
    * range — Delta-style data skipping from the manifest, no footer or
    * data I/O for skipped files. On a D13 range-clustered or D21-bucketed
    * layout this turns a point/range lookup on a 100 TB table into a
    * few-file read; on an unclustered layout every file overlaps and the
    * read degrades to the plain scan + filter, never to a wrong answer
    * (files without stats are always read). The predicate is applied on
    * top, so the result provably equals `read(...).where(between)`.
    */
  def prunedRead(spark: SparkSession, dir: String, colName: String,
                 lo: Any, hi: Any, version: Long = -1L): DataFrame = {
    val snap = resolve(spark, dir, version)
    def overlaps(t: String, mn: Any, mx: Any): Boolean = t match {
      case "l" => toL(mx) >= toL(lo) && toL(mn) <= toL(hi)
      case "d" => toD(mx) >= toD(lo) && toD(mn) <= toD(hi)
      case _ => mx.toString >= lo.toString && mn.toString <= hi.toString
    }
    val keep = snap.files.filter { n =>
      snap.stats.get(n).flatMap(_.get(colName)) match {
        case Some((t, mn, mx)) => overlaps(t, mn, mx)
        case None => true
      }
    }
    val pred = col(colName) >= lit(lo) && col(colName) <= lit(hi)
    // dv note: committed min/max may describe rows a dv has since masked —
    // a SUPERSET bound, so pruning can read an all-dead file but never
    // skips a live row; the dv-applied read below restores exactness.
    val rows = readApplied(spark, dir, if (keep.isEmpty) snap.files else keep, snap.dvs)
      .where(pred)
    if (keep.isEmpty) rows.limit(0) else rows
  }

  private def toL(a: Any): Long = a match {
    case n: Number => n.longValue()
    case s => s.toString.toLong
  }
  private def toD(a: Any): Double = a match {
    case n: Number => n.doubleValue()
    case s => s.toString.toDouble
  }

  /** Roll the table back to `to`: a NEW manifest (next version) referencing
    * the old snapshot's files — metadata-only, no data rewrite, and the
    * bad intermediate versions stay readable until vacuumed.
    */
  def rollback(spark: SparkSession, dir: String, to: Long): Long = {
    val target = snapshot(spark, dir, to) // throws if `to` was never committed
    // propagate the rolled-to snapshot's epoch so the rollback manifest
    // never weakens epochWriter's replay guard (belt to the carried
    // max_epoch suspenders — and vacuum can drop old manifests).
    // Concurrency: metadata-only and intent-preserving ("make the latest
    // snapshot be `to`'s"), so a lost publish race rebases at the next
    // version — last-writer-wins serialization, like append.
    publishRebased(spark, dir, target.epoch, "rollback")(_ => Some(target))
  }

  /** D28 — deletion-vector DELETE (merge-on-read): mask every current row
    * matching `predicate` by committing a POSITIONAL sidecar — (file, row
    * ordinal) pairs — and pointing the affected data files at it in the
    * next manifest. ZERO data bytes are rewritten: the complement of
    * [[merge]]'s copy-on-write rewrite, and the shape a 100 TB table
    * needs for the small-delete regime (GDPR erasure of a handful of
    * keys, spot retractions, quarantining a bad crawl slice) where
    * rewriting every touched multi-GB file to drop a few rows would
    * dominate the job. Readers ([[read]], [[prunedRead]], [[changeFeed]],
    * [[merge]], [[optimize]]) apply the mask as a broadcast anti-join on
    * physical (file, position) identity — parquet `_metadata` constant
    * columns, no stored row ids, no schema change.
    *
    * Semantics: deletes the rows of the CURRENT snapshot matching the
    * predicate, evaluated on live rows only (already-masked rows stay
    * masked). Re-deleting a file unions positions into a fresh sidecar and
    * repoints the file — the old sidecar's rows for it become dead
    * metadata reclaimed with their manifest by [[vacuum]]. A predicate
    * matching nothing returns the current version, NO new commit. Time
    * travel is exact: pre-delete versions carry no pointer and read the
    * rows back.
    *
    * Maintenance: [[optimize]] MATERIALIZES dvs (compaction reads masked
    * rows out), so dv chains do not accumulate forever; a dv-bearing file
    * at target size materializes when its dead fraction warrants a
    * rewrite. Stats stay superset-sound (see [[prunedRead]]).
    *
    * Concurrency: replace-flavored OCC like [[merge]] — the predicate was
    * evaluated against the observed head, and a concurrent commit may add
    * or rewrite matching rows, so a lost race throws
    * [[ConcurrentWriteException]] and the RETRY re-derives from the new
    * head (deleteWhere's intent is head-independent; the raced attempt's
    * sidecar is vacuum debris).
    */
  def deleteWhere(spark: SparkSession, dir: String, predicate: Column): Long = {
    val basis = head(spark, dir)
    require(basis.nonEmpty, s"deleteWhere requires an existing table under $dir")
    val (files, dvs) = (basis.get.files, basis.get.dvs)
    // two consumers: affected-file discovery + sidecar write
    Caches.persisted(liveWithPos(spark, dir, files, dvs)
        .where(predicate)
        .select(col("_gdv_f").as("file"), col("_gdv_p").as("pos"))) { matches =>
      val affected = matches.select("file").distinct()
        .collect().map(_.getString(0)).toSeq // manifest-cardinality bound
      if (affected.isEmpty) basis.get.version
      else {
        // fresh sidecar = new positions ∪ the affected files' LIVE old
        // positions (their pointers move here; unaffected files keep theirs)
        // — in one sidecar file: the rows are positions, not data (megabytes
        // where the masked table is terabytes), and the read side broadcasts
        // them whole
        val carried = dvRowsFor(spark, dir, dvs, affected)
        val dvName = stage(spark, matches.unionByName(carried).coalesce(1), dir,
          nextVersion(basis), kind = "dv-v").head
        publishReplace(spark, dir, basis, files, -1L, dvs ++ affected.map(_ -> dvName), "delete")
      }
    }
  }

  /** D22c — keyed MERGE: apply a change set (upserts + deletes by key) to
    * the latest snapshot, rewriting ONLY the files that contain matched
    * keys, published as ONE OCC commit. This is the lakehouse primitive
    * that turns a CDC feed ([[graft.events.ChangeEvents.changeSet]]) from
    * a full-table query into incremental table maintenance — what a CDC
    * consumer at 100 TB actually runs per batch (Delta/Iceberg MERGE INTO
    * in miniature).
    *
    * `changes` carries the table's columns plus `opCol` (rows whose op
    * equals `deleteOp` remove their key; every other op upserts the row)
    * and is collapsed to ONE net action per key first — highest `orderCol`
    * wins, the same last-op-wins fold as A5d's cdc_apply, so merging a
    * feed slice commutes with folding it (spec-pinned equality).
    *
    * Scale shape: the touched-file discovery scans ONLY (file, key) — a
    * column-pruned pass over the snapshot joined against the delta's key
    * set (Delta's own find-touched-files join; a D13/D21 key-clustered
    * layout lets parquet skip most row groups in that scan). The rewrite
    * then reads ONLY the affected files: survivors = affected-file rows
    * anti-joined on matched keys, plus the net upserts — unaffected files
    * ride into the new manifest BY NAME, zero bytes rewritten. The delta
    * key set persists for its two consumers (§4); the affected-file NAME
    * list is a driver-bounded collect (manifest-cardinality, the same
    * bound every commit's file list already has).
    *
    * Concurrency: replace-flavored (the rewrite invalidates under ANY
    * concurrent commit — an append may add rows for matched keys, so
    * rebasing blindly would resurrect deleted keys): the head observed at
    * entry must still be the head at publish, else
    * [[ConcurrentWriteException]] — and RETRYING the merge is always
    * safe, because merge re-derives everything from the new head (its
    * intent "apply this change set" is head-independent); staged files
    * from the lost attempt are vacuum debris. The raced-retry recipe is
    * spec-demonstrated; [[commitWithRetry]] is the same idiom for plain
    * replaces.
    */
  def merge(spark: SparkSession, changes: DataFrame, dir: String,
            keyCol: String, orderCol: String,
            opCol: String = "operation_type",
            deleteOp: String = "delete",
            epoch: Long = -1L,
            mergeSchema: Boolean = false): Long = {
    val basis = head(spark, dir)
    require(basis.nonEmpty, s"merge requires an existing table under $dir")
    mergeOnto(spark, changes, dir, basis.get, keyCol, orderCol, opCol, deleteOp, epoch, mergeSchema)
  }

  /** [[merge]] onto the snapshot `basis`, which the publish checks is
    * still the head — the seam [[epochMergeWriter]] hands its guard's
    * snapshot through.
    */
  private def mergeOnto(spark: SparkSession, changes: DataFrame, dir: String, basis: Snapshot,
                        keyCol: String, orderCol: String, opCol: String, deleteOp: String,
                        epoch: Long, mergeSchema: Boolean): Long = {
    // The authoritative table schema is ALWAYS the mergeSchema-reconciled
    // union across the snapshot's files: a prior evolved commit leaves the
    // table heterogeneous, and inferring from an arbitrary file (parquet's
    // mergeSchema=false behavior) could pick a pre-evolution file and
    // silently DROP the evolved column from every rewritten survivor —
    // permanent data loss once vacuum reclaims the prior version. The
    // caller's `mergeSchema` flag authorizes widening from the CHANGE SET
    // only; it never weakens how the table's own schema is resolved.
    val snap = readApplied(spark, dir, basis.files, basis.dvs, mergeSchema = true)
    val cols = snap.schema.fieldNames.toSeq
    require(!cols.contains(opCol),
      s"table schema already has '$opCol' — pass a distinct opCol")
    // D22c schema evolution (opt-in, Delta's autoMerge in miniature): extra
    // DATA columns on the change set (anything beyond the snapshot schema,
    // the op marker, and a non-schema orderCol) widen the table; survivors
    // from rewritten files null-fill them and files the merge does not
    // touch ride by name — their rows surface null through mergeSchema
    // reads, parquet's standard evolution semantics (the D22 append path's
    // contract, applied to upserts). Off by default: an unexpected column
    // on a change feed is usually a BUG, and silently widening a 100 TB
    // table should take an explicit flag.
    val newCols =
      if (!mergeSchema) Seq.empty
      else changes.schema.fields
        .filterNot(f => cols.contains(f.name) || f.name == opCol || f.name == orderCol)
        .toSeq
    if (!mergeSchema) {
      val extra = changes.schema.fieldNames
        .filterNot(n => cols.contains(n) || n == opCol || n == orderCol)
      require(extra.isEmpty,
        s"change set carries columns not in the table schema: ${extra.toSeq.sorted} — " +
          "pass mergeSchema = true to evolve the table, or drop them")
      // … and must carry EVERY table column: with the table schema resolved
      // across all files, a change set minted against a pre-evolution view
      // would otherwise fail deep in analysis (or, before r16's fix, lose
      // the evolved column outright). Fail here, naming the gap.
      val missing = cols.filterNot(changes.schema.fieldNames.contains)
      require(missing.isEmpty,
        s"change set omits table columns: ${missing.sorted} (the table may have " +
          "been evolved by a prior commit) — include them, or pass " +
          "mergeSchema = true to null-fill omitted columns on upserts")
    }
    val targetCols = cols ++ newCols.map(_.name)
    // null-fill types resolve against snapshot ∪ change columns — needed in
    // BOTH directions under mergeSchema: a change set may omit a column a
    // prior append evolved in, and a touched file may predate it
    val fillType = (snap.schema.fields ++ newCols)
      .map(f => f.name -> f.dataType).toMap
    // two consumers: touched-file scan + survivor anti-join/upserts
    Caches.persisted(lastOpPerKey(changes, keyCol, orderCol)) { net =>
      val keys = net.select(col(keyCol)).distinct()
      // D22f pruning: files whose committed key min/max cannot contain any
      // change key never enter the touched-file scan — on a range-clustered
      // layout the (file, key) pass reads a handful of files instead of the
      // snapshot. Files without long-typed key stats stay candidates.
      val (basisFiles, dvs) = (basis.files, basis.dvs)
      val bounded = basisFiles.flatMap(n =>
        basis.stats.get(n).flatMap(_.get(keyCol)).collect {
          case ("l", mn: Long, mx: Long) => (n, mn, mx)
        })
      val candidateNames: Seq[String] =
        if (bounded.isEmpty) basisFiles
        else {
          val sess = spark
          import sess.implicits._
          val rdf = bounded.toDF("_f", "_mn", "_mx")
          val hit = keys.join(broadcast(rdf),
            col(keyCol).cast("long") >= col("_mn") &&
              col(keyCol).cast("long") <= col("_mx"))
            .select("_f").distinct().collect().map(_.getString(0))
          val unbounded = basisFiles.filterNot(bounded.map(_._1).toSet)
          hit.toSeq ++ unbounded
        }
      // touched-file discovery over LIVE rows only — a key whose every row
      // a dv already masked must not drag its file into the rewrite
      val touchedNames: Set[String] =
        if (candidateNames.isEmpty) Set.empty
        else liveWithPos(spark, dir, candidateNames, dvs)
          .select(col("_gdv_f").as("_file"), col(keyCol))
          .join(keys, Seq(keyCol))
          .select("_file").distinct()
          .collect().map(_.getString(0)).toSet
      // rewriting a touched file MATERIALIZES its dv (survivors are read
      // dv-applied and the pointer is dropped); untouched files keep theirs
      val haveChange = net.schema.fieldNames.toSet
      val upserts = net.where(col(opCol) =!= deleteOp)
        .select(targetCols.map { c =>
          if (haveChange(c)) col(c)
          else if (mergeSchema) lit(null).cast(fillType(c)).as(c)
          else col(c) // strict mode: analysis fails naming the column, as before
        }: _*)
      val survivors =
        if (touchedNames.isEmpty) upserts.limit(0)
        else {
          // survivors read schema-reconciled for the same reason as `snap`:
          // a touched file may predate an evolution this merge didn't ask for
          val base = readApplied(spark, dir, touchedNames.toSeq, dvs, mergeSchema = true)
            .join(keys, Seq(keyCol), "left_anti")
          val have = base.schema.fieldNames.toSet
          base.select(targetCols.map { c =>
            if (have(c)) col(c) else lit(null).cast(fillType(c)).as(c)
          }: _*)
        }
      val staged = stage(spark, survivors.unionByName(upserts), dir, basis.version + 1)
      publishReplace(spark, dir, Some(basis), basisFiles.filterNot(touchedNames) ++ staged,
        epoch, dvs -- touchedNames, "merge")
    }
  }

  /** D22d — OPTIMIZE: rewrite the CURRENT snapshot's small files into
    * size-targeted ones and commit the result as a files-replaced version.
    * [[graft.ops.IncrementalAgg]]-style append chains accumulate one file
    * set per micro-batch/commit forever, and D11's directory compaction
    * would break the manifest log (it swaps the directory under the
    * manifests' feet) — this is the in-history rewrite path: history and
    * time travel stay intact (old manifests still reference the old
    * files), and the superseded small files are reclaimed by [[vacuum]]
    * once their manifests age out of retention.
    *
    * Only files under `targetBytes` are rewritten (coalesced to
    * ceil(total/target) files via a shuffle-boundary repartition); files
    * already at size ride into the new manifest by name, zero bytes
    * moved. Needs ≥ 2 small files to act — otherwise returns the current
    * version with NO new commit. The compaction read reconciles schema
    * across the small files (`mergeSchema`) so an evolved append chain
    * compacts to the union schema instead of a random file's.
    *
    * Concurrency: replace-flavored OCC like [[merge]] (the rewrite is
    * invalid under any concurrent commit); [[newFiles]] across an
    * optimize correctly reports None (not a pure append), forcing
    * incremental consumers to their full-recompute fallback.
    */
  def optimize(spark: SparkSession, dir: String,
               targetBytes: Long = 128L * 1024 * 1024,
               clusterBy: Seq[String] = Nil): Long = {
    val basis = head(spark, dir)
    require(basis.nonEmpty, s"optimize requires an existing table under $dir")
    val fs = fsOf(spark, new Path(dir))
    val sized = basis.get.files.map { n =>
      n -> fs.getFileStatus(new Path(dir, s"data/$n")).getLen
    }
    val dvs = basis.get.dvs
    // clustered OPTIMIZE (OPTIMIZE ... CLUSTER BY): rewrite the WHOLE
    // snapshot range-sorted on the cluster keys, so every file owns a
    // narrow key slice and the manifest's per-file min/max (D22f) turns
    // prunedRead/merge candidate scans into near-exact file selection —
    // D13's layout discipline applied IN-HISTORY, where D13 itself would
    // break the manifest log. All dvs materialize; size targeting and
    // history semantics are the compaction path's.
    val (small, big) =
      if (clusterBy.nonEmpty) (sized, Nil) else sized.partition(_._2 < targetBytes)
    // compaction acts when ≥2 small files need coalescing OR a small file
    // carries a deletion vector (the rewrite MATERIALIZES it — dv chains
    // don't accumulate forever; [[deleteWhere]]'s maintenance contract)
    if (clusterBy.isEmpty && small.size < 2 && !small.exists(p => dvs.contains(p._1)))
      return basis.get.version
    val nOut = math.max(1L, (small.map(_._2).sum + targetBytes - 1) / targetBytes).toInt
    val rows = readApplied(spark, dir, small.map(_._1), dvs, mergeSchema = true)
    val rewritten =
      if (clusterBy.isEmpty) rows.repartition(nOut)
      else rows.repartitionByRange(nOut, clusterBy.map(col): _*)
        .sortWithinPartitions(clusterBy.map(col): _*)
    val kept = big.map(_._1)
    val staged = stage(spark, rewritten, dir, nextVersion(basis))
    publishReplace(spark, dir, basis, kept ++ staged, -1L, dvs.filter(kv => kept.contains(kv._1)),
      "optimize")
  }

  /** The user-facing retry recipe for replace-flavored commits (r15,
    * VERDICT r14 #7): a REPLACE that loses an OCC race must re-read the
    * new head and RE-DERIVE its result — a blind resubmit would clobber a
    * snapshot it never saw, which is exactly why [[commit]] throws. This
    * wraps that loop: `derive` receives the current snapshot (None for an
    * empty table) and returns the replacement; on
    * [[ConcurrentWriteException]] the loop re-reads and re-derives
    * against the new head. Appends never need this (they rebase
    * internally); use it for read-modify-write replaces and [[merge]]/
    * [[optimize]]-class rewrites built on [[commit]].
    */
  def commitWithRetry(spark: SparkSession, dir: String, maxAttempts: Int = 5)
                     (derive: Option[DataFrame] => DataFrame): Long = {
    var attempts = 0
    while (true) {
      attempts += 1
      // the basis is captured HERE — derive's read and the commit's
      // conflict check anchor to the same observed head (commitAt), so a
      // foreign commit landing anywhere between read and publish is
      // detected and re-derived, never silently overwritten
      val basis = head(spark, dir)
      val current = basis.map(b => readApplied(spark, dir, b.files, b.dvs))
      try return commitAt(spark, derive(current), dir, -1L, basis)
      catch {
        case e: ConcurrentWriteException =>
          if (attempts >= maxAttempts)
            throw new ConcurrentWriteException(
              s"replace of $dir still losing after $attempts derive-and-commit " +
                s"attempts: ${e.getMessage}")
      }
    }
    -1L // unreachable
  }

  /** Drop all but the newest `keepLast` manifests and delete every data
    * file the RETAINED manifests do not reference (files shared with a
    * retained snapshot — e.g. via rollback — survive). Returns the deleted
    * file names. Also reclaims crash debris: staging dirs and data files
    * no manifest ever published.
    *
    * `graceMs` (Delta's retention-check idea, sized down): an unreferenced
    * data file or staging/temp path modified within the last `graceMs` is
    * SPARED — under multi-writer commits (object doc) a concurrent
    * committer's staged-but-not-yet-published files look exactly like
    * crash debris, and deleting them would let the commit publish a
    * manifest referencing vanished files. The default (10 min) dwarfs any
    * stage-to-publish window; pass 0 only for a table known quiescent
    * (tests, decommissioning). Published manifests are never in-flight,
    * so manifest retention ignores the grace.
    */
  def vacuum(spark: SparkSession, dir: String, keepLast: Int = 2,
             graceMs: Long = 600000L): Seq[String] = {
    require(keepLast >= 1, "must retain at least the latest version")
    val base = new Path(dir)
    val fs = fsOf(spark, base)
    val vs = versions(spark, dir)
    // D22h: tagged versions are PINNED — a named ref (a training-data
    // release, an audit snapshot) holds its manifest and files through any
    // retention window, exactly like Iceberg tags survive snapshot expiry
    val pinned = tags(spark, dir).values.toSet
    val (drop0, keep0) = vs.splitAt(math.max(vs.size - keepLast, 0))
    val keep = keep0 ++ drop0.filter(pinned)
    val drop = drop0.filterNot(pinned)
    // dv sidecars are references too: a retained manifest pointing at a
    // sidecar keeps it alive exactly like a data file
    val live = keep.flatMap { v =>
      val snap = snapshot(spark, dir, v)
      snap.files ++ snap.dvs.values
    }.toSet
    val cutoff = System.currentTimeMillis() - graceMs
    // data/ may not exist yet: vacuum on a table with no commits (or one
    // whose every commit crashed pre-rename) is a legal no-op, not a
    // FileNotFoundException (ADVICE r11)
    val dataDir = new Path(base, "data")
    val deletedData =
      (if (fs.exists(dataDir)) fs.listStatus(dataDir) else Array.empty[org.apache.hadoop.fs.FileStatus])
        .filter(st => !live(st.getPath.getName) && st.getModificationTime <= cutoff)
        .map { st => fs.delete(st.getPath, false); s"data/${st.getPath.getName}" }
    val deletedManifests = drop.map { v =>
      fs.delete(manifestPath(dir, v), false); s"manifest-v$v.json"
    }
    // crash debris: unpublished staging dirs AND half-written manifest
    // temps (a writeManifest crash between create and rename leaves
    // _manifest-v*.json.tmp, which nothing else reclaims — ADVICE r11),
    // both behind the same in-flight grace as unreferenced data
    val debris = fs.listStatus(base)
      .filter { st =>
        val n = st.getPath.getName
        (n.startsWith("_staging-") ||
          (n.startsWith("_manifest-") && n.endsWith(".tmp"))) &&
          st.getModificationTime <= cutoff
      }
      .map { st => fs.delete(st.getPath, true); st.getPath.getName }
    (deletedData ++ deletedManifests ++ debris).toSeq
  }

  // ---- D22i: the operation log -------------------------------------------

  /** One row per retained version, newest last: (version, op, ts, epoch,
    * n_files) — DESCRIBE HISTORY for the table. `op` says what produced
    * the version (append / replace / merge / optimize / delete / rollback
    * / commit), `ts` is the publish wall clock. Manifests written before
    * the fields existed report op="commit" and the manifest FILE's
    * modification time (same clock, coarser fs granularity) so old tables
    * stay auditable. Metadata-only: one small read per retained manifest,
    * never a data scan.
    */
  def history(spark: SparkSession, dir: String): Seq[(Long, String, Long, Long, Int)] = {
    val fs = fsOf(spark, new Path(dir))
    versions(spark, dir).map { v =>
      val snap = snapshot(spark, dir, v)
      (v, snap.op, snap.ts.getOrElse(fs.getFileStatus(manifestPath(dir, v)).getModificationTime),
        snap.epoch, snap.files.size)
    }
  }

  /** Time-travel by WALL CLOCK: read the newest version whose publish `ts`
    * is ≤ `tsMillis` — "the corpus as the pipeline saw it at 14:00", the
    * timestamp face of `read(dir, version)`. Throws when the table has no
    * version that old (distinguishable from an empty frame: the caller
    * asked about a time before the table existed). Commit timestamps are
    * assigned at publish under the OCC serialization, so they ascend with
    * versions on one table; clock skew across WRITERS is the usual
    * lakehouse caveat (Delta shares it) — version pins (tags, D22h) are
    * the reproducibility primitive, timestamps are the exploration one.
    */
  def readAsOf(spark: SparkSession, dir: String, tsMillis: Long): DataFrame = {
    val h = history(spark, dir).filter(_._3 <= tsMillis)
    require(h.nonEmpty,
      s"no version of $dir published at or before $tsMillis " +
        s"(earliest is ${history(spark, dir).headOption.map(_._3)})")
    read(spark, dir, h.last._1)
  }

  // ---- D22h: named refs (tags) -------------------------------------------

  private val tagNameRule = "[A-Za-z0-9][A-Za-z0-9._-]{0,63}"
  private def tagPath(dir: String, name: String) =
    new Path(new Path(dir, "refs"), s"$name.json")

  /** D22h — tag a version under a stable name: the reproducibility primitive
    * a training-data pipeline needs most — "model M trained on
    * `corpus@release-2026-08`" must stay readable long after the retention
    * window rolls the version number out. A tag is a tiny JSON ref under
    * `refs/`; [[vacuum]] treats tagged versions as pinned (manifest and
    * files survive any `keepLast`), and [[readTag]] resolves the name to a
    * time-travel read. Tags are IMMUTABLE once created — publishing uses
    * the same create-if-absent as manifests ([[createIfAbsent]]), so two writers
    * racing the same name get one winner and one clean error; [[retag]] is
    * the explicit atomic-replace escape hatch, [[untag]] releases the pin.
    * Defaults to the latest version. Returns the pinned version.
    */
  def tag(spark: SparkSession, dir: String, name: String,
          version: Long = -1L): Long = {
    require(name.matches(tagNameRule), s"tag name must match $tagNameRule: '$name'")
    val vs = versions(spark, dir)
    val v = if (version < 0) vs.lastOption.getOrElse(
      throw new IllegalArgumentException(s"cannot tag an empty table: $dir"))
    else version
    require(vs.contains(v), s"version $v does not exist under $dir (have $vs)")
    fsOf(spark, new Path(dir)).mkdirs(new Path(dir, "refs"))
    if (!createIfAbsent(spark, dir, "_staging-tag", tagJson(name, v), tagPath(dir, name)))
      throw new IllegalStateException(
        s"tag '$name' already exists on $dir — tags are immutable; " +
          "untag first or retag to move it atomically")
    v
  }

  private def tagJson(name: String, v: Long): Array[Byte] =
    s"""{"name":"$name","version":$v}""".getBytes("UTF-8")

  /** Atomically move an existing (or create a new) tag — rename with
    * OVERWRITE, so readers see the old target or the new, never a gap.
    */
  def retag(spark: SparkSession, dir: String, name: String, version: Long): Long = {
    require(name.matches(tagNameRule), s"tag name must match $tagNameRule: '$name'")
    require(versions(spark, dir).contains(version),
      s"version $version does not exist under $dir")
    val fs = fsOf(spark, new Path(dir))
    fs.mkdirs(new Path(dir, "refs"))
    val tmp = writeTemp(fs, dir, "_staging-tag", tagJson(name, version))
    val target = fs.makeQualified(tagPath(dir, name))
    // delete the temp ref if the overwrite rename throws (mirrors tag's
    // lost-race cleanup) — a failed retag must not leak staging debris that
    // vacuum's manifest-based sweep won't classify
    try FileContext.getFileContext(target.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(fs.makeQualified(tmp), target, Options.Rename.OVERWRITE)
    catch { case e: Throwable => fs.delete(tmp, false); throw e }
    version
  }

  /** Delete a tag; returns whether it existed. The pinned version becomes
    * ordinary history and the next [[vacuum]] may reclaim it.
    */
  def untag(spark: SparkSession, dir: String, name: String): Boolean = {
    require(name.matches(tagNameRule), s"tag name must match $tagNameRule: '$name'")
    fsOf(spark, new Path(dir)).delete(tagPath(dir, name), false)
  }

  /** All tags on the table, name → version. Missing refs/ dir = no tags. */
  def tags(spark: SparkSession, dir: String): Map[String, Long] = {
    val fs = fsOf(spark, new Path(dir))
    val refs = new Path(dir, "refs")
    if (!fs.exists(refs)) Map.empty
    else fs.listStatus(refs).filter(_.getPath.getName.endsWith(".json")).map { st =>
      val in = fs.open(st.getPath)
      val node = try mapper.readTree(in) finally in.close()
      node.get("name").asText() -> node.get("version").asLong()
    }.toMap
  }

  /** Time-travel read through a named ref. */
  def readTag(spark: SparkSession, dir: String, name: String): DataFrame = {
    val v = tags(spark, dir).getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' on $dir"))
    read(spark, dir, v)
  }
}
