package graft

import graft.ops.Maintenance
import scala.jdk.CollectionConverters._

/** D11 — small-file compaction: the rewrite must preserve every row while
  * collapsing per-epoch file sprawl to the size-targeted count.
  */
class MaintenanceSpec extends SparkSpec {

  test("compaction preserves rows and collapses per-epoch small files") {
    val s = spark
    import s.implicits._
    val in = tempDir("compact-in")
    val out = tempDir("compact-out") + "/data"
    // 20 epochs of tiny files, as a long-running stream would leave behind
    (0 until 20).foreach { epoch =>
      (epoch * 10 until (epoch + 1) * 10).map(i => (i.toLong, s"row$i"))
        .toDF("id", "payload")
        .coalesce(1)
        .write.mode("append").parquet(in)
    }
    val (_, before) = Maintenance.fileCensus(spark, in)
    assert(before >= 20, s"expected >= 20 small files, found $before")
    val (rows, _, after) = Maintenance.compact(spark, in, out)
    assert(rows === 200)
    assert(after === 1, s"200 tiny rows must compact to one file, got $after")
    assert(spark.read.parquet(out).select("id").distinct().count() === 200)
  }

  private def writeEpochs(dir: String, epochs: Int): Unit = {
    val s = spark
    import s.implicits._
    (0 until epochs).foreach { epoch =>
      (epoch * 10 until (epoch + 1) * 10).map(i => (i.toLong, s"row$i"))
        .toDF("id", "payload")
        .coalesce(1)
        .write.mode("append").parquet(dir)
    }
  }

  test("in-place compaction swaps atomically: readers see old or new, never a mix") {
    val dir = tempDir("compact-swap") + "/data"
    writeEpochs(dir, 10)
    val (_, before) = Maintenance.fileCensus(spark, dir)
    assert(before >= 10)
    val (rows, b, after) = Maintenance.compactInPlace(spark, dir)
    assert(rows === 100 && b === before)
    assert(after === 1, s"100 tiny rows must land in one file, got $after")
    // the listing is ONLY the new file set — no leftover small files, no
    // staging debris a reader could pick up
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parent = new org.apache.hadoop.fs.Path(dir).getParent
    val siblings = fs.listStatus(parent).map(_.getPath.getName).toSet
    assert(siblings === Set("data"), s"staging dirs must not survive the swap: $siblings")
    assert(spark.read.parquet(dir).select("id").distinct().count() === 100)
  }

  test("in-place compaction invalidates the memoized spread decision for the path") {
    // Regression: an earlier spread memo keyed without the ".parquet"
    // suffix, so a writer-side invalidation silently never hit and a
    // compacted-to-one-file table kept scanning as one task. The memo now
    // checks each load's file fingerprint instead, so no writer call is
    // involved: compaction mints a new file, the fingerprint misses and
    // the reader decides again. Observable
    // contract: read wide (spread memoizes "no repartition needed"),
    // compact to 1 file, re-read — the reader must RE-plan and spread.
    val dir = tempDir("compact-spread")
    val table = s"$dir/documents.parquet"
    val parallelism = spark.sparkContext.defaultParallelism
    spark.range(0, 1000).selectExpr("id AS doc_id", "'en' AS lang",
        "'s' AS source", "repeat('w ', 50) AS text")
      .repartition(parallelism * 2)
      .write.parquet(table)
    assert(graft.Tables.documents(spark, dir).rdd.getNumPartitions >= parallelism,
      "precondition: the wide layout must scan at full parallelism unspread")
    Maintenance.compactInPlace(spark, table, targetBytes = Long.MaxValue)
    assert(spark.read.parquet(table).rdd.getNumPartitions < parallelism,
      "precondition: compaction must actually narrow the scan")
    assert(graft.Tables.documents(spark, dir).rdd.getNumPartitions === parallelism,
      "stale spread memo: the reader kept the pre-compaction decision and " +
        "scans the single-file table on one task")
  }

  test("interrupted swap recovers to exactly the old or the new listing") {
    val fs = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash BETWEEN the renames: dir gone, old staged aside, tmp complete →
    // recovery must roll the original back in, bit-identical
    val d1 = tempDir("compact-crash1") + "/data"
    writeEpochs(d1, 5)
    val p1 = new org.apache.hadoop.fs.Path(d1)
    val old1 = new org.apache.hadoop.fs.Path(p1.getParent, "_data.compact-old")
    val tmp1 = new org.apache.hadoop.fs.Path(p1.getParent, "_data.compact-tmp")
    spark.read.parquet(d1).repartition(1).write.parquet(tmp1.toString)
    assert(fs.rename(p1, old1))
    assert(Maintenance.recoverCompaction(spark, d1) === "rolled-back")
    assert(spark.read.parquet(d1).count() === 50)
    assert(!fs.exists(old1) && !fs.exists(tmp1), "recovery must clear all staging state")
    // crash AFTER the commit rename: dir is the new data, old still staged →
    // recovery keeps the new data and drops the old copy
    val d2 = tempDir("compact-crash2") + "/data"
    writeEpochs(d2, 5)
    val p2 = new org.apache.hadoop.fs.Path(d2)
    val old2 = new org.apache.hadoop.fs.Path(p2.getParent, "_data.compact-old")
    spark.read.parquet(d2).repartition(1).write.parquet(old2.toString + ".stage")
    assert(fs.rename(p2, old2))
    assert(fs.rename(new org.apache.hadoop.fs.Path(old2.toString + ".stage"), p2))
    assert(Maintenance.recoverCompaction(spark, d2) === "committed")
    assert(spark.read.parquet(d2).count() === 50)
    assert(!fs.exists(old2), "old copy must be dropped once the commit is live")
    // nothing in flight → no-op
    assert(Maintenance.recoverCompaction(spark, d2) === "clean")
  }

  test("corpus writer: lang-partitioned layout, manifest counts match, committed-last gate") {
    val out = tempDir("corpus-out") + "/corpus"
    val docs = Tables.documents(spark, sf0001)
    assert(!graft.ops.CorpusWriter.isCommitted(docs, out))
    val manifest = graft.ops.CorpusWriter.write(docs, out)
    assert(graft.ops.CorpusWriter.isCommitted(docs, out))
    // data landed partitioned and complete
    val back = spark.read.parquet(out)
    assert(back.count() === docs.count())
    val langDirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("lang=")).sorted
    assert(langDirs.nonEmpty, "expected lang=... partition directories")
    // manifest agrees with an independent recount of what was written
    val counts = back.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    counts.foreach { case (lang, n) =>
      assert(manifest.contains(s""""$lang": {"n_rows": $n"""),
        s"manifest must carry the $lang count $n:\n$manifest")
    }
    assert(manifest.contains(s""""total_rows": ${docs.count()}"""))
    // one writer task per partition: no small-file spray (a handful of
    // files per lang dir at this scale, not tasks x partitions)
    langDirs.foreach { d =>
      val files = new java.io.File(out, d).listFiles().count(_.getName.endsWith(".parquet"))
      assert(files <= 2, s"$d must not spray small files, got $files")
    }
  }

  test("writeClustered lays out disjoint key ranges across files (data-skipping layout)") {
    import org.apache.spark.sql.functions._
    val out = tempDir("clustered") + "/lineitem"
    val li = graft.Tables.lineitem(spark, sf0001).select("l_orderkey", "l_shipdate")
    Maintenance.writeClustered(li, out, nFiles = 4, "l_shipdate")
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length === 4)
    // per-file [min, max] shipdate ranges must not overlap — that is the
    // property that lets a date-filtered scan prune whole files
    val ranges = files.map { f =>
      // TIMESTAMP_NTZ: compare as ISO strings (lexicographic = chronological)
      val r = spark.read.parquet(f)
        .agg(min(col("l_shipdate").cast("string")), max(col("l_shipdate").cast("string"))).head()
      (r.getString(0), r.getString(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hiA), (loB, _)) =>
        assert(hiA <= loB, s"file ranges overlap: ${ranges.mkString(", ")}")
      case _ =>
    }
    // nothing lost in the rewrite
    assert(spark.read.parquet(out).count() === li.count())
  }

  test("writeZOrdered prunes on BOTH keys where a lexicographic sort prunes only the first") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // a full 64x64 grid: every (x, y) once — the layout, not the data,
    // decides how many files a single-key filter has to touch
    val grid = (for { x <- 0 until 64; y <- 0 until 64 }
      yield (x.toLong, y.toLong, x * 64L + y)).toDF("x", "y", "payload")
    val zdir = tempDir("zorder") + "/grid"
    val ldir = tempDir("zlinear") + "/grid"
    Maintenance.writeZOrdered(grid, zdir, nFiles = 16, bits = 6, "x", "y")
    Maintenance.writeClustered(grid, ldir, nFiles = 16, "x", "y")
    def extents(dir: String): Seq[(Long, Long, Long, Long)] =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
        .map { f =>
          val r = spark.read.parquet(f.toString)
            .agg(min("x"), max("x"), min("y"), max("y")).head()
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        }.toSeq
    val zext = extents(zdir)
    val lext = extents(ldir)
    assert(zext.size === 16 && lext.size === 16)
    // nothing lost, grid intact
    assert(spark.read.parquet(zdir).count() === 4096)
    assert(spark.read.parquet(zdir).select("x", "y").distinct().count() === 4096)
    // files hit by a y-only equality filter (the second sort key): the
    // lexicographic layout spans all y in every file — zero pruning; the
    // z-layout bounds each file's y-extent, so most files prune away
    def hitsY(ext: Seq[(Long, Long, Long, Long)], y: Long) =
      ext.count { case (_, _, lo, hi) => lo <= y && y <= hi }
    val ys = Seq(0L, 17L, 33L, 52L, 63L)
    val zHits = ys.map(hitsY(zext, _)).sum
    val lHits = ys.map(hitsY(lext, _)).sum
    assert(lHits === ys.size * 16, "lexicographic layout cannot prune on the second key")
    assert(zHits <= lHits / 2,
      s"z-order should halve second-key file hits at worst: z=$zHits linear=$lHits")
    // and the FIRST key still prunes: no file spans all of x
    assert(zext.forall { case (lo, hi, _, _) => hi - lo < 63 },
      s"every z-file should bound x too: $zext")
  }

  test("writeZOrdered keeps files size-balanced under heavy key skew") {
    val s = spark
    import s.implicits._
    // 90% of rows share one (x, y) corner — uniform bucketing degrades the
    // PRUNING there (documented), but repartitionByRange samples the
    // z-value distribution, so file SIZES must stay balanced regardless
    val rows = (0 until 4000).map { i =>
      if (i < 3600) (0L, 0L, i.toLong)
      else ((i % 64).toLong, (i / 64 % 64).toLong, i.toLong)
    }
    val dir = tempDir("zskew") + "/rows"
    Maintenance.writeZOrdered(rows.toDF("x", "y", "payload"), dir, nFiles = 8, bits = 6, "x", "y")
    val counts = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => spark.read.parquet(f.toString).count())
    assert(spark.read.parquet(dir).count() === 4000)
    // range partitioning cannot split one identical z-value across files,
    // so the hot corner's 3600 rows necessarily share one file — the
    // balance property under skew is that the DISTINCT tail does not get
    // swallowed into it: the sampler's boundaries put most of the other
    // 400 rows in their own file(s)
    assert(counts.count(_ > 0) >= 2, s"all rows in one file: ${counts.toSeq.sorted}")
    assert(counts.max <= 3600 + 100,
      s"hot file swallowed the distinct tail: ${counts.toSeq.sorted}")
  }

  test("writeBloomFiltered stores a bloom filter for keyed columns only, and it answers") {
    val s = spark
    import s.implicits._
    val dir = tempDir("bloom") + "/data"
    val rows = (0 until 5000).map(i => (i.toLong * 7919L % 100000L, s"payload$i"))
    Maintenance.writeBloomFiltered(rows.toDF("user_id", "payload"), dir,
      nFiles = 2, expectedNdv = 5000, "user_id")
    assert(spark.read.parquet(dir).count() === 5000, "layout must preserve rows")
    val conf = spark.sparkContext.hadoopConfiguration
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length === 2)
    for (f <- files) {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString), conf))
      try {
        val rg = reader.getRowGroups.get(0)
        val colOf = rg.getColumns.asScala.map(c => c.getPath.toDotString -> c).toMap
        val bfReader = reader.getBloomFilterDataReader(rg)
        val bf = bfReader.readBloomFilter(colOf("user_id"))
        assert(bf != null, s"${f.getName}: no bloom filter on the keyed column")
        // membership sanity: a value written into this row group must hash-hit
        // (bloom filters have no false negatives)
        val present = spark.read.parquet(f.toString)
          .select("user_id").head().getLong(0)
        assert(bf.findHash(bf.hash(present)), "written key must bloom-hit")
        assert(bfReader.readBloomFilter(colOf("payload")) == null,
          s"${f.getName}: unexpected bloom filter on a non-keyed column")
      } finally reader.close()
    }
  }

  test("layout benchExtras write the requested file count on the real events table") {
    // The timed layout_clustered/layout_zorder bench entries (VERDICT r10
    // #6) must actually produce the file layout they claim to time: 16
    // range/z partitions of the sf events table, every file non-empty, and
    // the returned census frame IS that listing — so a future repartition
    // change that collapsed or sprayed files trips here, not only in a
    // quietly shifted bench number.
    for (name <- Seq("layout_clustered", "layout_zorder")) {
      val census = SparkEntry.benchExtras(name)(spark, "/root/testdata/sf0.001").collect()
      assert(census.length === 16, s"$name wrote ${census.length} files, wanted 16")
      assert(census.forall(_.getAs[Long]("bytes") > 0L), s"$name wrote an empty file")
    }
  }
}
