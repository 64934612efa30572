package graft

import graft.config._
import graft.streaming.{Connector, Epochs}
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

/** The fork-free local filesystem: it sets the same modes Hadoop's `chmod`
  * would, an epoch written through it is the epoch a plain Spark write
  * leaves, and binding it per write leaves the caller's session, its
  * cached filesystem and its threads and handles as they were.
  */
class LocalFilesSpec extends SparkSpec {

  private val conf = spark.sparkContext.hadoopConfiguration

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("setPermission round-trips 0644, 0755, 0700, 0600 and 0640 like Hadoop's chmod") {
    val dir = Paths.get(tempDir("localfiles"))
    val fs = LocalFiles.fileSystem(new Path(dir.toUri), conf)
    val hadoop = new RawLocalFileSystem
    hadoop.initialize(new java.net.URI("file:///"), conf)
    for ((octal, symbolic) <- Seq("644" -> "rw-r--r--", "755" -> "rwxr-xr-x",
                                  "700" -> "rwx------", "600" -> "rw-------",
                                  "640" -> "rw-r-----")) {
      val perm = new FsPermission(Integer.parseInt(octal, 8).toShort)
      val Seq(ours, theirs) = Seq("ours", "theirs").map { n =>
        val f = Files.createFile(dir.resolve(s"$n-$octal"))
        Files.setPosixFilePermissions(f, PosixFilePermissions.fromString("---------"))
        f
      }
      fs.setPermission(new Path(ours.toUri), perm)
      hadoop.setPermission(new Path(theirs.toUri), perm)
      assert(mode(ours) === symbolic, octal)
      assert(mode(theirs) === symbolic, octal)
    }
  }

  private def epochBatch: DataFrame =
    spark.range(0, 2000, 1, 4).select(col("id"), sha2(col("id").cast("string"), 256).as("doc"))

  /** Every file under `dir` keyed by its path with the write's job UUID
    * removed, mapped to its mode and bytes.
    */
  private def tree(dir: String): Map[String, (String, Seq[Byte])] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      val rel = root.relativize(p).toString.replaceAll("-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "")
      rel -> (mode(p), if (Files.isDirectory(p)) Seq.empty[Byte] else Files.readAllBytes(p).toSeq)
    }.toMap
  }

  test("an epoch written through Epochs.overwrite has a plain Spark write's files, modes and .crc sidecars") {
    val base = tempDir("localfiles")
    Epochs.overwrite(epochBatch, 0L, s"$base/graft")
    epochBatch.withColumn("epoch", lit(0L))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("epoch").parquet(s"$base/plain")
    val (graftTree, plainTree) = (tree(s"$base/graft"), tree(s"$base/plain"))
    assert(graftTree.keySet === plainTree.keySet)
    assert(graftTree.keys.count(_.endsWith(".parquet.crc")) === 4, graftTree.keys)
    assert(graftTree === plainTree)
  }

  test("a replayed epoch replaces only its partition and leaves no marker or staging dir") {
    val dir = tempDir("localfiles") + "/out"
    Epochs.overwrite(spark.range(0, 5).toDF(), 0L, dir)
    Epochs.overwrite(spark.range(10, 15).toDF(), 1L, dir)
    Epochs.overwrite(spark.range(20, 23).toDF(), 1L, dir)
    def ids(epoch: Long) = spark.read.parquet(dir).where(col("epoch") === epoch)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids(1L) === (20L until 23L).toSet)
    assert(ids(0L) === (0L until 5L).toSet)
    assert(Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString).toSet ===
      Set("epoch=0", "epoch=1"))
  }

  test("only a file: or scheme-less path is bound, and the binding is uncached") {
    for (p <- Seq("hdfs://nn:8020/queues", "s3a://bucket/queues"))
      assert(LocalFiles.writeOptions(p) === Map.empty, p)
    for (p <- Seq("file:/tmp/queues", "/tmp/queues"))
      assert(LocalFiles.writeOptions(p).get("fs.file.impl") === Some(classOf[LocalFiles].getName), p)
    val p = new Path("file:/tmp")
    val (a, b) = (LocalFiles.fileSystem(p, conf), LocalFiles.fileSystem(p, conf))
    assert(a.isInstanceOf[LocalFiles] && (a ne b) && (a ne FileSystem.get(p.toUri, conf)))
  }

  test("a local Versioned table publishes its manifest and tag by hard link, .crc sidecars included") {
    val dir = tempDir("localfiles") + "/table"
    graft.ops.Versioned.commit(spark, spark.range(0, 10).toDF(), dir)
    graft.ops.Versioned.tag(spark, dir, "release")
    def names(d: String) = Files.list(Paths.get(d)).iterator().asScala.map(_.getFileName.toString).toSet
    assert(names(dir) === Set("data", "refs", "manifest-v1.json", ".manifest-v1.json.crc"))
    assert(names(s"$dir/refs") === Set("release.json", ".release.json.crc"))
    // the temp's link is gone, and each sidecar checks its file's bytes
    val fs = FileSystem.getLocal(conf)
    for (f <- Seq(s"$dir/manifest-v1.json", s"$dir/refs/release.json")) {
      assert(Files.getAttribute(Paths.get(f), "unix:nlink") === 1, f)
      val in = fs.open(new Path(f))
      try assert(in.readAllBytes().toSeq === Files.readAllBytes(Paths.get(f)).toSeq, f)
      finally in.close()
    }
  }

  private def writeEvents(dir: String, name: String, ids: Range): Unit = {
    val rows = ids.map { i =>
      s"""{"event_id":$i,"ts_us":${1704067200000000L + i * 1000000L},"user_id":${i % 7},""" +
        s""""event_type":"view","value":1.5,"props":"{}"}"""
    }
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), rows.mkString("\n").getBytes)
  }

  /** A fresh connector over 40 staged events, drained once. */
  private def drain(): Unit = {
    val base = tempDir("localfiles")
    val cfg = CollectionConfig(WatchedDb("test", "lfcoll"),
      ResumeTokensDb("test", "tokens"), QueueSink("stream_lfcoll"))
    writeEvents(s"$base/source/lfcoll", "a.json", 0 until 20)
    writeEvents(s"$base/source/lfcoll", "b.json", 20 until 40)
    val q = Connector.fromCollection(spark, Connections(s"$base/source", s"$base/queues"), cfg)
      .connect()
    assert(q.awaitTermination(60000))
    assert(spark.read.parquet(s"$base/queues/stream_lfcoll").count() === 40)
  }

  test("a connector drain leaves the session conf and the Hadoop file: binding unchanged") {
    val before = (spark.conf.getAll, conf.get("fs.file.impl"),
      FileSystem.get(new java.net.URI("file:///"), conf).getClass)
    drain()
    assert((spark.conf.getAll, conf.get("fs.file.impl"),
      FileSystem.get(new java.net.URI("file:///"), conf).getClass) === before)
  }

  test("repeated drains leak no thread or file handle") {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.UnixOperatingSystemMXBean]
    // Spark's own elastic pools grow with load up to their caps and idle
    // out after a minute; every other thread must stay as it was
    val elastic = Seq("block-manager-", "QueryStageCreator-", "shuffle-exchange-",
      "map-output-dispatcher-", "ResultQueryStageExecution-", "ForkJoinPool",
      "task-result-getter-", "Executor task launch worker", "dispatcher-event-loop-")
    def threads = Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && !elastic.exists(t.getName.startsWith))
      .map(_.getName.replaceAll("[0-9]+", "N")).groupBy(identity).map { case (k, v) => k -> v.size }
    drain(); drain() // warm the pools every drain reuses
    val (t0, f0) = (threads, os.getOpenFileDescriptorCount)
    (1 to 6).foreach(_ => drain())
    val (t1, f1) = (threads, os.getOpenFileDescriptorCount)
    // six drains create hundreds of uncached filesystem instances; a leak
    // of one thread or handle per instance or per drain would show here
    assert(t1.values.sum - t0.values.sum <= 2, s"threads $t0 -> $t1")
    assert(f1 - f0 <= 6, s"file descriptors $f0 -> $f1")
  }
}
