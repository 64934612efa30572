package graft

import graft.ops.Versioned

/** D22 — snapshot-versioned table: manifest-last commits, time travel,
  * metadata-only rollback, reference-safe vacuum.
  */
class VersionedSpec extends SparkSpec {

  private def rows(from: Int, n: Int) = {
    val s = spark
    import s.implicits._
    (from until from + n).map(i => (i.toLong, s"payload$i")).toDF("id", "payload")
  }

  test("commits are snapshots: latest read, time travel, versions ascend") {
    val dir = tempDir("versioned") + "/table"
    val v1 = Versioned.commit(spark, rows(0, 100), dir)
    val v2 = Versioned.commit(spark, rows(1000, 250), dir)
    assert((v1, v2) === ((1L, 2L)))
    assert(Versioned.versions(spark, dir) === Seq(1L, 2L))
    assert(Versioned.read(spark, dir).count() === 250)
    assert(Versioned.read(spark, dir, 1).count() === 100)
    assert(Versioned.read(spark, dir, 1).agg(org.apache.spark.sql.functions.min("id"))
      .head().getLong(0) === 0L)
    assert(Versioned.read(spark, dir, 2).agg(org.apache.spark.sql.functions.min("id"))
      .head().getLong(0) === 1000L)
  }

  test("rollback is metadata-only and the rolled-to snapshot reads identically") {
    val dir = tempDir("versioned-rb") + "/table"
    Versioned.commit(spark, rows(0, 50), dir)
    Versioned.commit(spark, rows(500, 80), dir) // the "bad" commit
    val v3 = Versioned.rollback(spark, dir, to = 1)
    assert(v3 === 3L)
    val latest = Versioned.read(spark, dir).select("id").collect().map(_.getLong(0)).sorted
    assert(latest.toSeq === (0L until 50L))
    // the bad version stays pinnable until vacuumed
    assert(Versioned.read(spark, dir, 2).count() === 80)
  }

  test("vacuum deletes only unreferenced files; shared (rolled-back-to) files survive") {
    val dir = tempDir("versioned-vac") + "/table"
    Versioned.commit(spark, rows(0, 50), dir)    // v1
    Versioned.commit(spark, rows(500, 80), dir)  // v2
    Versioned.rollback(spark, dir, to = 1)       // v3 references v1's FILES
    // keepLast=2 retains v2+v3; v1's manifest goes but its files are v3's
    val deleted = Versioned.vacuum(spark, dir, keepLast = 2, graceMs = 0L)
    assert(deleted.contains("manifest-v1.json"))
    assert(!deleted.exists(_.startsWith("data/v1-")),
      s"v1 files are referenced by the rollback manifest: $deleted")
    assert(Versioned.read(spark, dir).count() === 50, "latest still reads after vacuum")
    assert(Versioned.read(spark, dir, 2).count() === 80)
    // keepLast=1 retains only v3 -> v2's data files must actually go
    val deleted2 = Versioned.vacuum(spark, dir, keepLast = 1, graceMs = 0L)
    assert(deleted2.exists(_.startsWith("data/v2-")), s"expected v2 data gone: $deleted2")
    assert(Versioned.read(spark, dir).count() === 50)
    intercept[IllegalArgumentException](Versioned.read(spark, dir, 2))
  }

  test("epochWriter commits each epoch once: replays are no-ops, progress resumes") {
    val dir = tempDir("versioned-epoch") + "/table"
    val w = Versioned.epochWriter(dir)
    w(rows(0, 10), 0L)
    w(rows(100, 20), 1L)
    assert(Versioned.versions(spark, dir) === Seq(1L, 2L))
    // crash-replay of the last epoch (checkpoint not yet advanced): no-op
    w(rows(100, 20), 1L)
    assert(Versioned.versions(spark, dir) === Seq(1L, 2L), "replayed epoch must not re-commit")
    assert(Versioned.read(spark, dir).count() === 20)
    // progress resumes with the next epoch; manifests record their epochs
    w(rows(500, 5), 2L)
    assert(Versioned.versions(spark, dir) === Seq(1L, 2L, 3L))
    assert(Versioned.epochOf(spark, dir, 3L) === 2L)
    assert(Versioned.read(spark, dir).count() === 5)
  }

  test("epochWriter's replay guard survives interleaved rollbacks and batch commits") {
    val dir = tempDir("versioned-epoch-rb") + "/table"
    val w = Versioned.epochWriter(dir)
    w(rows(0, 10), 0L)
    w(rows(100, 20), 1L)
    // an operator rolls back to v1 (epoch 0's commit) mid-stream: the new
    // manifest must NOT reset the guard (ADVICE r11 — a latest-manifest
    // read would see the rollback's weaker epoch and re-commit a replay)
    Versioned.rollback(spark, dir, to = 1)
    w(rows(100, 20), 1L) // crash-replay of epoch 1 after the rollback
    assert(Versioned.versions(spark, dir) === Seq(1L, 2L, 3L),
      "replayed epoch must not re-commit past a rollback")
    // same for an interleaved plain batch commit (epoch -1 manifest)
    Versioned.commit(spark, rows(900, 7), dir)
    w(rows(100, 20), 1L)
    assert(Versioned.versions(spark, dir) === Seq(1L, 2L, 3L, 4L),
      "replayed epoch must not re-commit past a batch commit")
    // genuinely new epochs still make progress
    w(rows(500, 5), 2L)
    assert(Versioned.read(spark, dir).count() === 5)
  }

  test("epochWriter's replay guard survives vacuum and a driver restart (carried max_epoch)") {
    val dir = tempDir("versioned-epoch-vac") + "/table"
    val w = Versioned.epochWriter(dir)
    w(rows(0, 10), 0L)
    w(rows(100, 20), 5L)
    // an interleaved batch commit writes an epoch=-1 manifest on top, then
    // vacuum drops every manifest that recorded a real epoch — before the
    // carried max_epoch, the guard's information was GONE (ADVICE r12)
    Versioned.commit(spark, rows(900, 7), dir)
    Versioned.vacuum(spark, dir, keepLast = 1)
    assert(Versioned.versions(spark, dir) === Seq(3L), "only the epoch=-1 manifest remains")
    w(rows(100, 20), 5L) // crash-replay of epoch 5
    assert(Versioned.versions(spark, dir) === Seq(3L),
      "replayed epoch must not re-commit after vacuum dropped its manifest")
    // progress still resumes past the carried max
    w(rows(500, 5), 6L)
    assert(Versioned.read(spark, dir).count() === 5)
  }

  test("epochWriter on a deleted and recreated table dir commits its epochs again") {
    val dir = tempDir("versioned-epoch-recreate") + "/table"
    val w = Versioned.epochWriter(dir)
    (0 to 5).foreach(e => w(rows(e * 100, 10), e.toLong))
    assert(Versioned.versions(spark, dir) === (1L to 6L))
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir))
    // a new materialization at the same path restarts its epochs at 0: the
    // guard reads the recreated table's files, not what the old one held
    val again = Versioned.epochWriter(dir)
    (0 to 2).foreach(e => again(rows(e * 100, 10 + e), e.toLong))
    assert(Versioned.versions(spark, dir) === Seq(1L, 2L, 3L))
    assert(Versioned.maxEpoch(spark, dir) === 2L)
    assert(Versioned.read(spark, dir).count() === 12)
  }

  test("epochMergeWriter on a deleted and recreated table dir bootstraps and merges again") {
    val s = spark
    import s.implicits._
    val dir = tempDir("versioned-merge-recreate") + "/table"
    def changes(ids: Seq[Long], seq: Long) =
      ids.map(i => (i, s"p$i-$seq", "upsert", seq)).toDF("id", "payload", "operation_type", "seq")
    val w = Versioned.epochMergeWriter(dir, "id", "seq")
    (0L to 3L).foreach(e => w(changes(Seq(e, e + 1), e), e))
    assert(Versioned.versions(spark, dir) === (1L to 4L))
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir))
    val again = Versioned.epochMergeWriter(dir, "id", "seq")
    again(changes(Seq(10L, 11L), 0L), 0L) // bootstrap commit
    again(changes(Seq(11L, 12L), 1L), 1L) // keyed merge
    assert(Versioned.versions(spark, dir) === Seq(1L, 2L))
    assert(Versioned.history(spark, dir).map(_._2) === Seq("replace", "merge"))
    assert(Versioned.read(spark, dir).as[(Long, String, Long)].collect().sortBy(_._1).toSeq ===
      Seq((10L, "p10-0", 0L), (11L, "p11-1", 1L), (12L, "p12-1", 1L)))
  }

  test("vacuum on a commit-less table is a no-op and reclaims manifest temps") {
    val dir = tempDir("versioned-empty") + "/table"
    // no commits at all: data/ absent — vacuum must not throw (ADVICE r11)
    new java.io.File(dir).mkdirs()
    assert(Versioned.vacuum(spark, dir, keepLast = 1) === Seq.empty)
    // a writeManifest crash between create and rename leaves a .tmp —
    // debris the sweep must reclaim
    Versioned.commit(spark, rows(0, 5), dir)
    val tmp = new java.io.File(dir, "_manifest-v9.json.tmp")
    java.nio.file.Files.writeString(tmp.toPath, "{\"half\":")
    val deleted = Versioned.vacuum(spark, dir, keepLast = 2, graceMs = 0L)
    assert(deleted.contains("_manifest-v9.json.tmp"), s"manifest temp reclaimed: $deleted")
    assert(Versioned.read(spark, dir).count() === 5)
  }

  test("a crashed commit (staged files, no manifest) is invisible and vacuum reclaims it") {
    val dir = tempDir("versioned-crash") + "/table"
    Versioned.commit(spark, rows(0, 30), dir)
    // simulate a crash AFTER staging, BEFORE the manifest rename: stage a
    // parquet write under the staging name commit() uses and stop there
    rows(900, 10).write.mode("overwrite").parquet(s"$dir/_staging-v2")
    assert(Versioned.versions(spark, dir) === Seq(1L), "no manifest, no version")
    assert(Versioned.read(spark, dir).count() === 30, "readers see the last commit only")
    val deleted = Versioned.vacuum(spark, dir, keepLast = 2, graceMs = 0L)
    assert(deleted.contains("_staging-v2"), s"staging debris reclaimed: $deleted")
    // the next commit proceeds normally
    assert(Versioned.commit(spark, rows(100, 5), dir) === 2L)
    assert(Versioned.read(spark, dir).count() === 5)
  }

  test("zero-row commits, an empty append and a merge that deletes every key each read back empty with the table's schema") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    val dir = tempDir("versioned-empty") + "/table"
    val schema = rows(0, 1).schema
    val noPartitions = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    assert(noPartitions.rdd.getNumPartitions === 0)
    Versioned.commit(spark, noPartitions, dir)                           // v1
    Versioned.commit(spark, rows(0, 0), dir)                             // v2
    Versioned.append(spark, rows(0, 0), dir)                             // v3
    Versioned.commit(spark, rows(0, 5), dir)                             // v4
    val deletes = rows(0, 5).withColumn("operation_type", lit("delete")).withColumn("seq", lit(1L))
    Versioned.merge(spark, deletes, dir, keyCol = "id", orderCol = "seq") // v5
    for (v <- Seq(1L, 2L, 3L, 5L)) {
      val back = Versioned.read(spark, dir, v)
      assert(back.count() === 0, s"v$v")
      assert(back.schema.map(f => f.name -> f.dataType) === schema.map(f => f.name -> f.dataType), s"v$v")
    }
    // each empty write stages one schema-only file, as Spark's unpartitioned write does
    assert(Versioned.history(spark, dir).map(h => (h._1, h._2, h._5)) === Seq(
      (1L, "replace", 1), (2L, "replace", 1), (3L, "append", 2), (4L, "replace", 4), (5L, "merge", 1)))
  }

  test("a commit whose task throws publishes no version and leaves no staging dir") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("versioned-fail") + "/table"
    Versioned.commit(spark, rows(0, 5), dir)
    val failing = spark.range(10, 15, 1, 1)
      .select(expr("if(id = 13, raise_error('boom'), id)").as("id"), lit("x").as("payload"))
    val e = intercept[Exception](Versioned.commit(spark, failing, dir))
    assert(e.getMessage.contains("boom"), e.getMessage)
    assert(Versioned.versions(spark, dir) === Seq(1L))
    assert(Versioned.read(spark, dir).count() === 5)
    val left = new java.io.File(dir).list().filter(_.startsWith("_staging-v"))
    assert(left.isEmpty, left.toSeq)
  }

  private def docs(langs: (String, Long)*) = {
    val s = spark
    import s.implicits._
    langs.zipWithIndex.map { case ((l, c), i) => (i.toLong, l, c) }
      .toDF("doc_id", "lang", "n_chars")
  }

  test("append commits reference prior files unchanged; newFiles recovers the exact delta") {
    val dir = tempDir("versioned-append") + "/table"
    Versioned.commit(spark, docs("en" -> 10L, "fr" -> 20L), dir)
    Versioned.append(spark, docs("en" -> 5L), dir)
    Versioned.append(spark, docs("de" -> 7L, "en" -> 1L), dir)
    assert(Versioned.read(spark, dir).count() === 5, "appends accumulate")
    assert(Versioned.read(spark, dir, 1).count() === 2, "old snapshots unchanged")
    // the v1->v3 delta is exactly the rows appended after v1
    val delta = Versioned.newFiles(spark, dir, since = 1, to = 3).get
    assert(spark.read.parquet(delta: _*).count() === 3)
    // a replace commit breaks the append chain: no file-level delta exists
    Versioned.commit(spark, docs("zh" -> 9L), dir)
    assert(Versioned.newFiles(spark, dir, since = 1, to = 4).isEmpty,
      "a rewrite must force the full-recompute path, not a wrong delta")
  }

  test("schema evolution: an append may add a column; mergeSchema reads reconcile, old rows null") {
    val s = spark
    import s.implicits._
    val dir = tempDir("versioned-schema") + "/table"
    Versioned.commit(spark, Seq((1L, "en")).toDF("doc_id", "lang"), dir)
    Versioned.append(spark,
      Seq((2L, "fr", 0.9)).toDF("doc_id", "lang", "quality"), dir)
    val merged = Versioned.read(spark, dir, mergeSchema = true)
    assert(merged.columns.sorted.toSeq === Seq("doc_id", "lang", "quality"))
    val byId = merged.collect().map(r => r.getAs[Long]("doc_id") ->
      Option(r.getAs[java.lang.Double]("quality"))).toMap
    assert(byId(1L).isEmpty, "pre-evolution rows surface null for the new column")
    assert(byId(2L).contains(0.9))
    // the default (no-merge) read still works and time travel is unaffected
    assert(Versioned.read(spark, dir, 1).columns.sorted.toSeq === Seq("doc_id", "lang"))
  }

  test("incremental aggregate maintenance: O(delta) refreshes stay equal to a full recompute") {
    import graft.ops.IncrementalAgg
    val base = tempDir("incr-base") + "/table"
    val state = tempDir("incr-state") + "/agg"
    def stateMap() = Versioned.read(spark, state).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_docs"), r.getAs[Long]("n_chars"),
        r.getAs[Long]("max_chars"))).toMap
    def fullMap() = Versioned.read(spark, base).groupBy("lang")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("d"),
        org.apache.spark.sql.functions.sum("n_chars").as("c"),
        org.apache.spark.sql.functions.max("n_chars").as("m"))
      .collect().map(r => r.getString(0) -> (r.getAs[Long]("d"), r.getAs[Long]("c"),
        r.getAs[Long]("m"))).toMap

    Versioned.commit(spark, docs("en" -> 10L, "en" -> 30L, "fr" -> 20L), base)
    assert(IncrementalAgg.refresh(spark, base, state) === ((1L, false)), "first build is a full pass")
    assert(stateMap() === fullMap())

    Versioned.append(spark, docs("en" -> 5L, "de" -> 100L), base)
    assert(IncrementalAgg.refresh(spark, base, state) === ((2L, true)), "append refreshes incrementally")
    assert(stateMap() === fullMap())
    assert(stateMap()("en") === ((3L, 45L, 30L)))

    // crash-replay: refreshing an already-covered version is a no-op commit-wise
    val versionsBefore = Versioned.versions(spark, state)
    assert(IncrementalAgg.refresh(spark, base, state) === ((2L, true)))
    assert(Versioned.versions(spark, state) === versionsBefore, "replay must not re-commit")

    // a replace commit rewrites history: refresh falls back to full recompute
    Versioned.commit(spark, docs("zh" -> 9L, "zh" -> 1L), base)
    assert(IncrementalAgg.refresh(spark, base, state) === ((3L, false)), "rewrite forces the full path")
    assert(stateMap() === fullMap())
    assert(stateMap() === Map("zh" -> ((2L, 10L, 9L))))
  }

  test("data skipping: commits record per-file min/max, prunedRead reads only overlapping files, merge prunes its key scan") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val dir = tempDir("versioned-stats") + "/table"
    val seed = (0 until 100).map(i => (i.toLong, s"payload$i")).toDF("id", "payload")
      .repartitionByRange(10, col("id"))
    Versioned.commit(spark, seed, dir)                                      // v1
    // every file carries long id bounds and string payload bounds, and the
    // recorded bounds are exactly the file's actual min/max
    val st = Versioned.fileStats(spark, dir)
    val files = Versioned.newFiles(spark, dir, -1L, 1L).get
    assert(st.size === 10, s"stats for all 10 files: ${st.keySet}")
    files.foreach { path =>
      val name = path.substring(path.lastIndexOf('/') + 1)
      val actual = spark.read.parquet(path).agg(min("id"), max("id")).head()
      val (t, mn, mx) = st(name)("id")
      assert(t === "l")
      assert(mn === actual.getLong(0) && mx === actual.getLong(1),
        s"$name: recorded ($mn,$mx) vs actual (${actual.getLong(0)},${actual.getLong(1)})")
      assert(st(name)("payload")._1 === "s", "string column stats recorded")
    }
    // pruned range read: only overlapping files enter the scan; result
    // identical to the full-scan filter
    val pr = Versioned.prunedRead(spark, dir, "id", 5L, 7L)
    assert(pr.inputFiles.length < files.size,
      s"a 3-key range on a 10-file range layout must skip files (read ${pr.inputFiles.length})")
    val overlapping = files.filter { path =>
      val (_, mn, mx) = st(path.substring(path.lastIndexOf('/') + 1))("id")
      mx.asInstanceOf[Long] >= 5L && mn.asInstanceOf[Long] <= 7L
    }
    def names(ps: Iterable[String]) = ps.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    assert(names(pr.inputFiles) === names(overlapping))
    assert(pr.collect().map(_.getLong(0)).sorted.toSeq === Seq(5L, 6L, 7L))
    // an empty range types an empty frame instead of scanning anything
    assert(Versioned.prunedRead(spark, dir, "id", 5000L, 6000L).count() === 0L)
    // string-typed pruning answers correctly through the lexicographic path
    val byPayload = Versioned.prunedRead(spark, dir, "payload", "payload5", "payload5")
    assert(byPayload.collect().map(_.getLong(0)).toSeq === Seq(5L))

    // append: new manifest carries stats for prior AND appended files
    Versioned.append(spark, Seq((200L, "p200")).toDF("id", "payload"), dir)  // v2
    val st2 = Versioned.fileStats(spark, dir)
    assert(st2.size === 11)
    assert(st2.exists(_._2("id") == (("l", 200L, 200L))), "appended file bounds recorded")
    // pruning after append finds the new key in one file
    val pr200 = Versioned.prunedRead(spark, dir, "id", 200L, 200L)
    assert(pr200.inputFiles.length === 1)
    assert(pr200.head().getString(1) === "p200")

    // merge: version 3's manifest re-records stats for the rewritten file
    // and carries ridden files' stats; the rewritten bounds reflect the
    // upserted key
    val changes = Seq((5L, "fresh", "update", 1L), (1000L, "new", "insert", 2L))
      .toDF("id", "payload", "operation_type", "seq")
    Versioned.merge(spark, changes, dir, keyCol = "id", orderCol = "seq")    // v3
    val st3 = Versioned.fileStats(spark, dir)
    assert(st3.values.exists(c => c("id")._3.asInstanceOf[Long] === 1000L),
      "the merged file's recorded max covers the inserted key")
    assert(Versioned.prunedRead(spark, dir, "id", 1000L, 1000L)
      .head().getString(1) === "new")
    assert(Versioned.read(spark, dir).count() === 102, "101 survivors + insert")

    // rollback: the metadata-only manifest still carries the stats block
    Versioned.rollback(spark, dir, to = 1L)                                  // v4
    val st4 = Versioned.fileStats(spark, dir)
    assert(st4.size === 10, "rolled-back manifest re-records v1 stats")
    assert(Versioned.prunedRead(spark, dir, "id", 5L, 7L)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(5L, 6L, 7L))
  }

  test("incremental aggregate maintenance rides the change feed across MERGE and OPTIMIZE; a full replace still recomputes") {
    import graft.ops.{IncrementalAgg, Versioned}
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val base = tempDir("incr-feed-base") + "/table"
    val state = tempDir("incr-feed-state") + "/agg"
    def stateMap() = Versioned.read(spark, state).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_docs"), r.getAs[Long]("n_chars"),
        r.getAs[Long]("max_chars"))).toMap
    def fullMap() = Versioned.read(spark, base).groupBy("lang")
      .agg(count(lit(1)).as("d"), sum("n_chars").as("c"), max("n_chars").as("m"))
      .collect().map(r => r.getString(0) -> (r.getAs[Long]("d"), r.getAs[Long]("c"),
        r.getAs[Long]("m"))).toMap

    // keyed base so MERGE applies; range-partitioned so the merge touches
    // only some files and the feed path stays cheaper than a recompute
    val seed = Seq((1L, "en", 10L), (2L, "en", 30L), (3L, "fr", 20L), (4L, "de", 7L))
      .toDF("id", "lang", "n_chars").repartitionByRange(4, col("id"))
    Versioned.commit(spark, seed, base)                                     // v1
    assert(IncrementalAgg.refresh(spark, base, state) === ((1L, false)))
    assert(stateMap() === fullMap())

    // MERGE: grow doc 2, delete the only fr doc, insert a new de doc —
    // newFiles says None, but the commit shares files: the FEED path runs
    val changes = Seq(
      (2L, "en", 35L, "update", 1L), (3L, "fr", 0L, "delete", 2L),
      (9L, "de", 100L, "insert", 3L)
    ).toDF("id", "lang", "n_chars", "operation_type", "seq")
    Versioned.merge(spark, changes, base, keyCol = "id", orderCol = "seq")  // v2
    assert(Versioned.newFiles(spark, base, 1L, 2L).isEmpty, "merge is not a pure append")
    assert(IncrementalAgg.refresh(spark, base, state) === ((2L, true)),
      "a files-shared rewrite must refresh via the change feed, not a full pass")
    assert(stateMap() === fullMap())
    assert(!stateMap().contains("fr"), "a lang whose last doc was deleted drops out")
    assert(stateMap()("en") === ((2L, 45L, 35L)) && stateMap()("de") === ((2L, 107L, 100L)))

    // D24b: delete the row that HOLDS en's max (id 2, n_chars 35) — a
    // signed delta cannot lower a max, so the feed path must recompute it
    // from the affected group's surviving rows (en falls back to 10) while
    // untouched groups (de) keep their stored max; still the feed path,
    // never a full recompute
    val dropMax = Seq((2L, "en", 35L, "delete", 4L))
      .toDF("id", "lang", "n_chars", "operation_type", "seq")
    Versioned.merge(spark, dropMax, base, keyCol = "id", orderCol = "seq")   // v3
    assert(IncrementalAgg.refresh(spark, base, state) === ((3L, true)),
      "a max-dropping delete must still ride the feed path")
    assert(stateMap() === fullMap())
    assert(stateMap()("en") === ((1L, 10L, 10L)),
      "the deleted group max falls back to the surviving rows' max")
    assert(stateMap()("de") === ((2L, 107L, 100L)), "untouched group max rides")

    // one LARGE append file so the next optimize is partial (it rides by
    // name while the small files compact — shared files keep the feed
    // path applicable); the append itself refreshes incrementally
    val bulk = (100L until 5100L).map(i => (i, "pt", 3L)).toDF("id", "lang", "n_chars")
      .coalesce(1)
    Versioned.append(spark, bulk, base)                                     // v4
    assert(IncrementalAgg.refresh(spark, base, state) === ((4L, true)))
    assert(stateMap() === fullMap())

    // partial OPTIMIZE rewrites the small files but no rows: feed path,
    // state row-identical
    val v5 = Versioned.optimize(spark, base, targetBytes = 2000L)
    assert(v5 === 5L, "optimize must have found >= 2 sub-target files")
    assert(Versioned.newFiles(spark, base, 4L, 5L).isEmpty, "optimize is not a pure append")
    assert(IncrementalAgg.refresh(spark, base, state) === ((5L, true)),
      "a partial optimize must refresh via the (empty) change feed")
    assert(stateMap() === fullMap())

    // a FULL replace shares no files — the feed would read old+new, so
    // refresh recomputes instead
    Versioned.commit(spark, Seq((50L, "zh", 9L)).toDF("id", "lang", "n_chars"), base) // v6
    assert(IncrementalAgg.refresh(spark, base, state) === ((6L, false)))
    assert(stateMap() === Map("zh" -> ((1L, 9L, 9L))))
  }

  test("concurrent appends all succeed with serialized versions and no lost rows or files") {
    val dir = tempDir("versioned-mw-append") + "/table"
    Versioned.commit(spark, rows(0, 10), dir) // v1 baseline
    val writers = 6
    // all writers resolve the SAME basis before any publishes: maximal race
    val gate = new java.util.concurrent.CyclicBarrier(writers)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Long]]()
    val threads = (0 until writers).map { i =>
      new Thread(() => {
        try {
          gate.await()
          results.add(Right(Versioned.append(spark, rows(1000 + i * 100, 10), dir)))
        } catch { case t: Throwable => results.add(Left(t)) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    val rs = results.toArray(Array.empty[Either[Throwable, Long]])
    assert(rs.collect { case Left(t) => t }.isEmpty,
      s"appends must all succeed: ${rs.collect { case Left(t) => t.toString }.mkString("; ")}")
    val vs = rs.collect { case Right(v) => v }.sorted.toSeq
    assert(vs === (2L to (1L + writers)), s"serialized distinct versions, got $vs")
    assert(Versioned.versions(spark, dir) === (1L to (1L + writers)))
    // no lost rows: latest snapshot holds the baseline plus EVERY writer's rows
    val ids = Versioned.read(spark, dir).select("id").collect().map(_.getLong(0)).sorted.toSeq
    val expected = ((0 until 10) ++ (0 until writers).flatMap(i =>
      1000 + i * 100 until 1010 + i * 100)).map(_.toLong).sorted
    assert(ids === expected, "every concurrent append's rows are in the final snapshot")
    // no lost files: each version's manifest is a strict superset of its
    // parent's (every step in the racing chain is a pure, recoverable append)
    (2L to (1L + writers)).foreach { v =>
      val delta = Versioned.newFiles(spark, dir, v - 1, v)
      assert(delta.isDefined && delta.get.nonEmpty,
        s"v${v - 1} -> v$v must be a non-empty pure append")
    }
  }

  test("a REPLACE that lost the race fails loudly; the winner's snapshot is intact and the loser's files vacuum away") {
    val dir = tempDir("versioned-mw-replace") + "/table"
    Versioned.commit(spark, rows(0, 10), dir) // v1
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Long]]()
    val threads = (0 until 2).map { i =>
      new Thread(() => {
        try {
          gate.await() // both snapshot basis=v1 before either publishes
          results.add(Right(Versioned.commit(spark, rows(2000 + i * 100, 20), dir)))
        } catch { case t: Throwable => results.add(Left(t)) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    val rs = results.toArray(Array.empty[Either[Throwable, Long]])
    val wins = rs.collect { case Right(v) => v }
    val losses = rs.collect { case Left(t) => t }
    assert(wins.toSeq === Seq(2L), s"exactly one replace wins v2: $rs")
    assert(losses.length === 1 &&
      losses.head.isInstanceOf[Versioned.ConcurrentWriteException],
      s"the loser must throw ConcurrentWriteException, got ${losses.headOption}")
    // winner's snapshot reads completely
    assert(Versioned.read(spark, dir).count() === 20)
    assert(Versioned.versions(spark, dir) === Seq(1L, 2L))
    // the loser's staged-and-placed files are unreferenced debris: vacuum
    // reclaims them while every referenced file survives
    val before = new java.io.File(s"$dir/data").list().toSet
    Versioned.vacuum(spark, dir, keepLast = 2, graceMs = 0L)
    val after = new java.io.File(s"$dir/data").list().toSet
    assert(after.subsetOf(before) && after.size < before.size,
      s"loser debris reclaimed: before=$before after=$after")
    assert(Versioned.read(spark, dir).count() === 20, "winner unaffected by vacuum")
    assert(Versioned.read(spark, dir, 1).count() === 10)
  }

  test("the manifest publish is genuinely create-if-absent: an existing version is never overwritten") {
    // The cross-process safety claim rests on this primitive (the in-JVM
    // races above are serialized by the per-dir monitor, so they never
    // exercise rename-onto-existing): publishing a version some other
    // process already owns must return false and leave the winner's
    // manifest byte-identical.
    val dir = tempDir("versioned-cas") + "/table"
    Versioned.commit(spark, rows(0, 10), dir) // owns manifest-v1.json
    val winner = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/manifest-v1.json"))
    val won = Versioned.publishManifest(spark, dir, v = 1L,
      files = Seq("data/impostor-00000.parquet"), epoch = -1L, prevMax = -1L)
    assert(!won, "publishing an already-claimed version must lose")
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/manifest-v1.json")) === winner,
      "the losing publish must not touch the winner's manifest")
    assert(Versioned.read(spark, dir).count() === 10)
    // the loser's temp was cleaned up — nothing for vacuum to find
    assert(!new java.io.File(dir).list().exists(_.endsWith(".json.tmp")))
  }

  test("vacuum's in-flight grace spares a concurrent committer's staged files; graceMs=0 reclaims them") {
    val dir = tempDir("versioned-grace") + "/table"
    Versioned.commit(spark, rows(0, 10), dir)
    // simulate a commit caught between staging and publish: placed data
    // files with no manifest yet, plus a staging dir — to a graceless
    // vacuum both look exactly like crash debris
    rows(900, 5).write.mode("overwrite").parquet(s"$dir/_staging-v2-abc123")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/data/v2-abc123-00000.parquet"),
      Array[Byte](1, 2, 3))
    val spared = Versioned.vacuum(spark, dir, keepLast = 2) // default grace
    assert(!spared.exists(_.contains("abc123")),
      s"fresh in-flight paths must survive the default grace: $spared")
    assert(new java.io.File(s"$dir/data/v2-abc123-00000.parquet").exists())
    assert(new java.io.File(s"$dir/_staging-v2-abc123").exists())
    // a quiescent-table vacuum (grace 0) reclaims the same paths
    val reclaimed = Versioned.vacuum(spark, dir, keepLast = 2, graceMs = 0L)
    assert(reclaimed.contains("data/v2-abc123-00000.parquet") &&
      reclaimed.contains("_staging-v2-abc123"), s"got $reclaimed")
    assert(Versioned.read(spark, dir).count() === 10, "the committed snapshot is untouched")
  }

  test("mixed race: a replace losing to an append fails; an append losing to a replace rebases on top of it") {
    val dir = tempDir("versioned-mw-mixed") + "/table"
    Versioned.commit(spark, rows(0, 10), dir) // v1
    // replace snapshots basis v1, then an append lands before it publishes
    // (simulated serially — the basis check is what the race exercises):
    // commit()'s basis capture happens inside the call, so drive the
    // interleaving with threads + barrier and accept either ordering.
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(String, Either[Throwable, Long])]()
    val t1 = new Thread(() => {
      try { gate.await(); results.add("append" -> Right(Versioned.append(spark, rows(5000, 5), dir))) }
      catch { case t: Throwable => results.add("append" -> Left(t)) }
    })
    val t2 = new Thread(() => {
      try { gate.await(); results.add("replace" -> Right(Versioned.commit(spark, rows(6000, 7), dir))) }
      catch { case t: Throwable => results.add("replace" -> Left(t)) }
    })
    Seq(t1, t2).foreach(_.start()); Seq(t1, t2).foreach(_.join(120000))
    val m = results.toArray(Array.empty[(String, Either[Throwable, Long])]).toMap
    assert(m("append").isRight, s"append never fails a race (rebases): ${m("append")}")
    m("replace") match {
      case Right(_) => // replace won the race or ran after: fine — appends rebase
        assert(Versioned.versions(spark, dir).size === 3)
      case Left(t) =>
        assert(t.isInstanceOf[Versioned.ConcurrentWriteException],
          s"a raced replace fails with ConcurrentWriteException, got $t")
        assert(Versioned.versions(spark, dir).size === 2)
    }
    // whatever the ordering, the log is a consistent serial chain: every
    // version reads fully and the append's rows are in its own commit
    Versioned.versions(spark, dir).foreach(v =>
      Versioned.read(spark, dir, v).count())
  }

  // ---- r15: keyed MERGE, OPTIMIZE, and the replace-retry recipe ----------

  test("MERGE ≡ cdc_apply: folding a feed prefix then merging the remainder equals folding the whole feed") {
    import org.apache.spark.sql.functions._
    import graft.events.ChangeEvents
    val dir = tempDir("versioned-merge-cdc") + "/table"
    val ev = Tables.events(spark, sf0001)
    val cut = ev.agg(max("event_id")).head().getLong(0) / 2
    Versioned.commit(spark,
      ChangeEvents.applyChangesOf(ev.where(col("event_id") <= cut)).repartition(8), dir)
    val changes = ChangeEvents.changeSet(ev.where(col("event_id") > cut))
      .withColumn("last_event_id", col("event_id"))
    val v = Versioned.merge(spark, changes, dir,
      keyCol = "document_key", orderCol = "event_id")
    assert(v === 2L)
    val got = Versioned.read(spark, dir)
      .orderBy("document_key")
      .select("document_key", "last_event_id", "full_document")
      .collect().toSeq
    val expected = ChangeEvents.applyChangesOf(ev)
      .select("document_key", "last_event_id", "full_document")
      .collect().toSeq
    assert(got.size === expected.size, s"${got.size} vs ${expected.size}")
    assert(got === expected, "merge-onto-prefix must equal the one-shot fold")
  }

  test("MERGE rewrites ONLY the files containing matched keys; inserts/updates/deletes land; untouched files ride by name") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val dir = tempDir("versioned-merge-files") + "/table"
    // 100 keys range-partitioned into 10 files: each file owns a key range
    val seed = (0 until 100).map(i => (i.toLong, s"payload$i")).toDF("id", "payload")
      .repartitionByRange(10, col("id"))
    Versioned.commit(spark, seed, dir)
    val before = Versioned.newFiles(spark, dir, -1L, 1L).get
      .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    assert(before.size === 10, s"expected 10 seed files, got ${before.size}")
    // two upserts for key 5 (order wins), a delete of 17, an insert of 1000
    val changes = Seq(
      (5L, "stale", "update", 1L),
      (5L, "fresh", "update", 2L),
      (17L, "whatever", "delete", 3L),
      (1000L, "new", "insert", 4L)
    ).toDF("id", "payload", "operation_type", "seq")
    val v = Versioned.merge(spark, changes, dir, keyCol = "id", orderCol = "seq")
    assert(v === 2L)
    val after = {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/manifest-v2.json")))
      val fl = node.path("files")
      (0 until fl.size()).map(fl.get(_).asText()).toSet
    }
    // keys 5 and 17 live in different range files; 1000 matches nothing —
    // exactly the two touched files are replaced, the other eight ride
    val kept = before & after
    assert(kept.size === 8, s"exactly 2 of 10 files rewritten: kept=${kept.size}")
    val m = Versioned.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(5L) === "fresh", "last-op-wins within the change set")
    assert(!m.contains(17L), "deleted key gone")
    assert(m(1000L) === "new", "unmatched upsert inserts")
    assert(m.size === 100, "99 survivors + 1 insert")
    assert(m(4L) === "payload4" && m(99L) === "payload99", "untouched rows intact")
    // time travel to the pre-merge snapshot still reads the old state
    assert(Versioned.read(spark, dir, 1).count() === 100)
  }

  test("changeFeed: append feeds read only the appended files; a keyed merge classifies insert/delete/update; optimize nets to empty") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val dir = tempDir("versioned-feed") + "/table"
    val seed = (0 until 100).map(i => (i.toLong, s"payload$i")).toDF("id", "payload")
      .repartitionByRange(10, col("id"))
    Versioned.commit(spark, seed, dir)                       // v1
    Versioned.append(spark, Seq((100L, "p100"), (101L, "p101")).toDF("id", "payload"), dir) // v2
    // from <= 0: the whole snapshot as inserts
    val fromNothing = Versioned.changeFeed(spark, dir, 0L, 1L).collect()
    assert(fromNothing.length === 100)
    assert(fromNothing.forall(_.getAs[String]("_change_type") === "insert"))
    // append span: exactly the two appended rows, and the PLAN only reads
    // the appended files — the v1 files never enter the scan
    val appendFeed = Versioned.changeFeed(spark, dir, 1L, 2L)
    val v1Files = Versioned.newFiles(spark, dir, -1L, 1L).get.toSet
    assert(appendFeed.inputFiles.toSet.intersect(v1Files).isEmpty,
      "an append's feed must not read the base snapshot's files")
    val appended = appendFeed.collect()
    assert(appended.map(r => (r.getAs[Long]("id"), r.getAs[String]("_change_type")))
      .sorted.toSeq === Seq((100L, "insert"), (101L, "insert")))
    // a keyed merge: update 5, delete 17, insert 1000
    val changes = Seq(
      (5L, "fresh", "update", 1L), (17L, "x", "delete", 2L),
      (1000L, "new", "insert", 3L)
    ).toDF("id", "payload", "operation_type", "seq")
    Versioned.merge(spark, changes, dir, keyCol = "id", orderCol = "seq") // v3
    val keyed = Versioned.changeFeed(spark, dir, 2L, 3L, keyCol = "id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("payload"),
        r.getAs[String]("_change_type"))).sortBy(t => (t._1, t._3))
    assert(keyed.toSeq === Seq(
      (5L, "fresh", "update_postimage"), (5L, "payload5", "update_preimage"),
      (17L, "payload17", "delete"), (1000L, "new", "insert")),
      s"keyed feed misclassified: ${keyed.toSeq}")
    // the multiset (no-key) feed across the same span agrees row-wise
    val multiset = Versioned.changeFeed(spark, dir, 2L, 3L).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("payload"),
        r.getAs[String]("_change_type"))).sortBy(t => (t._1, t._3))
    assert(multiset.toSeq === Seq(
      (5L, "payload5", "delete"), (5L, "fresh", "insert"),
      (17L, "payload17", "delete"), (1000L, "new", "insert")))
    // optimize rewrites files but changes no rows: the feed nets to EMPTY
    // even though newFiles reports a non-append (None)
    val v4 = Versioned.optimize(spark, dir, targetBytes = 1L << 30)
    assert(v4 === 4L, "optimize must have compacted the append-chain files")
    assert(Versioned.newFiles(spark, dir, 3L, 4L).isEmpty,
      "optimize is not a pure append")
    assert(Versioned.changeFeed(spark, dir, 3L, 4L).count() === 0L)
    assert(Versioned.changeFeed(spark, dir, 3L, 4L, keyCol = "id").count() === 0L)
    // identical manifests (self-span): typed empty frame, schema intact
    val self = Versioned.changeFeed(spark, dir, 4L, 4L)
    assert(self.count() === 0L)
    assert(self.columns.toSeq === Seq("id", "payload", "_change_type"))
    // composition across the whole history: applying the keyed 1->4 feed to
    // snapshot v1 reproduces snapshot v4
    val feed14 = Versioned.changeFeed(spark, dir, 1L, 4L, keyCol = "id")
    val v1Rows = Versioned.read(spark, dir, 1L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val applied = collection.mutable.Map(v1Rows.toSeq: _*)
    feed14.collect().foreach { r =>
      (r.getAs[String]("_change_type"): @unchecked) match {
        case "insert" | "update_postimage" =>
          applied(r.getAs[Long]("id")) = r.getAs[String]("payload")
        case "delete" => applied.remove(r.getAs[Long]("id")); ()
        case "update_preimage" => ()
      }
    }
    val v4Rows = Versioned.read(spark, dir, 4L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(applied.toMap === v4Rows, "feed(1->4) applied to v1 must equal v4")
  }

  test("MERGE racing an append: the append never fails; a lost merge throws and its RETRY applies cleanly to the new head") {
    val s = spark
    import s.implicits._
    val dir = tempDir("versioned-merge-race") + "/table"
    val seed = (0 until 50).map(i => (i.toLong, s"payload$i")).toDF("id", "payload")
    Versioned.commit(spark, seed, dir)
    val changes = Seq((7L, "merged", "update", 1L), (11L, "x", "delete", 2L))
      .toDF("id", "payload", "operation_type", "seq")
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(String, Either[Throwable, Long])]()
    val appendRows = (9000 until 9005).map(i => (i.toLong, s"payload$i")).toDF("id", "payload")
    val t1 = new Thread(() => {
      try { gate.await(); results.add("append" -> Right(Versioned.append(spark, appendRows, dir))) }
      catch { case t: Throwable => results.add("append" -> Left(t)) }
    })
    val t2 = new Thread(() => {
      try {
        gate.await()
        results.add("merge" -> Right(
          Versioned.merge(spark, changes, dir, keyCol = "id", orderCol = "seq")))
      } catch { case t: Throwable => results.add("merge" -> Left(t)) }
    })
    Seq(t1, t2).foreach(_.start()); Seq(t1, t2).foreach(_.join(120000))
    val m = results.toArray(Array.empty[(String, Either[Throwable, Long])]).toMap
    assert(m("append").isRight, s"append rebases, never fails: ${m("append")}")
    m("merge") match {
      case Right(_) => // merge won the publish (or ran clean) — both landed
      case Left(t) =>
        assert(t.isInstanceOf[Versioned.ConcurrentWriteException],
          s"a raced merge fails with ConcurrentWriteException, got $t")
        // the documented recipe: retrying re-derives from the new head
        Versioned.merge(spark, changes, dir, keyCol = "id", orderCol = "seq")
    }
    val finalMap = Versioned.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(finalMap(7L) === "merged", "merge effect present")
    assert(!finalMap.contains(11L), "delete effect present")
    assert(finalMap.contains(9000L) && finalMap.contains(9004L), "append rows present")
    assert(finalMap.size === 50 - 1 + 5, s"49 survivors + 5 appended: ${finalMap.size}")
  }

  test("OPTIMIZE compacts an append chain's small files: identical rows, fewer files, history intact, non-append reported") {
    val s = spark
    import s.implicits._
    val dir = tempDir("versioned-optimize") + "/table"
    Versioned.commit(spark, rows(0, 20), dir)
    (1 to 4).foreach(i => Versioned.append(spark, rows(i * 1000, 20), dir))
    val preV = Versioned.versions(spark, dir).last
    val preFiles = Versioned.newFiles(spark, dir, -1L, preV).get
    val preRows = Versioned.read(spark, dir).collect().map(_.toString).sorted
    val v = Versioned.optimize(spark, dir) // everything is tiny → one file
    assert(v === preV + 1)
    val postFiles = Versioned.newFiles(spark, dir, -1L, v).get
    assert(postFiles.size < preFiles.size,
      s"file count must drop: ${preFiles.size} -> ${postFiles.size}")
    val postRows = Versioned.read(spark, dir).collect().map(_.toString).sorted
    assert(postRows.toSeq === preRows.toSeq, "optimize must not change a single row")
    // time travel to every pre-optimize version still reads (files retained
    // until vacuum ages their manifests out)
    Versioned.versions(spark, dir).foreach(pv =>
      assert(Versioned.read(spark, dir, pv).count() > 0))
    // an optimize is NOT a pure append: incremental consumers must fall back
    assert(Versioned.newFiles(spark, dir, preV, v).isEmpty,
      "newFiles across an optimize reports None")
    // idempotence-ish: a second optimize on the already-compact table is a
    // no-op (returns the current version, no new commit)
    assert(Versioned.optimize(spark, dir) === v)
    assert(Versioned.versions(spark, dir).last === v)
  }

  test("commitWithRetry: a replace that loses to a foreign commit re-derives against the new head and wins") {
    val dir = tempDir("versioned-retry") + "/table"
    Versioned.commit(spark, rows(0, 10), dir) // v1
    var calls = 0
    val v = Versioned.commitWithRetry(spark, dir) { current =>
      calls += 1
      // first attempt: a foreign replace lands AFTER this derive read its
      // snapshot — the deterministic TOCTOU (commitAt anchors the conflict
      // check at the derive's basis, so this MUST trip a retry)
      if (calls == 1) Versioned.commit(spark, rows(500, 5), dir)
      val n = current.map(_.count()).getOrElse(0L)
      rows(2000, n.toInt) // derived FROM the observed head
    }
    assert(calls === 2, "the raced first attempt must have been retried")
    assert(v === 3L, "v2 = the foreign commit, v3 = the successful retry")
    // the retry derived from the FOREIGN head (5 rows), not the stale v1
    // read (10 rows) — the lost update the basis anchoring prevents
    val fin = Versioned.read(spark, dir)
    assert(fin.count() === 5L)
    assert(fin.agg(org.apache.spark.sql.functions.min("id")).head().getLong(0) === 2000L)
  }

  test("epochMergeWriter: bootstrap, incremental epochs, replay no-op, equals the full-feed fold") {
    import org.apache.spark.sql.functions._
    val s = spark; import s.implicits._
    val dir = tempDir("epochmerge")
    def feed(rows: (Long, Long, String, String)*) =
      rows.toSeq.toDF("k", "seq", "operation_type", "payload")
    val w = Versioned.epochMergeWriter(dir, keyCol = "k", orderCol = "seq")
    // epoch 0 bootstraps: k1,k2 inserted, k2 immediately updated in-batch
    w(feed((1L, 1L, "insert", "a"), (2L, 2L, "insert", "b"), (2L, 3L, "update", "b2")), 0L)
    val afterBoot = Versioned.read(spark, dir)
      .select("k", "payload").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(afterBoot === Map(1L -> "a", 2L -> "b2"))
    // epoch 1: update k1, delete k2, insert k3 — ONE merge commit
    val ep1 = feed((1L, 4L, "update", "a2"), (2L, 5L, "delete", "x"), (3L, 6L, "insert", "c"))
    w(ep1, 1L)
    val v = Versioned.versions(spark, dir)
    assert(v === Seq(1L, 2L), s"one commit per epoch, got $v")
    def state() = Versioned.read(spark, dir)
      .select("k", "payload").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state() === Map(1L -> "a2", 3L -> "c"))
    // crash replay of epoch 1 is a no-op (no new version, same rows)
    w(ep1, 1L)
    assert(Versioned.versions(spark, dir) === Seq(1L, 2L))
    assert(state() === Map(1L -> "a2", 3L -> "c"))
    // and the incremental result equals folding the WHOLE feed at once
    val whole = feed((1L, 1L, "insert", "a"), (2L, 2L, "insert", "b"), (2L, 3L, "update", "b2"),
      (1L, 4L, "update", "a2"), (2L, 5L, "delete", "x"), (3L, 6L, "insert", "c"))
    val byKey = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy(col("seq").desc)
    val folded = whole.withColumn("_rn", row_number().over(byKey))
      .where(col("_rn") === 1 && col("operation_type") =!= "delete")
      .select("k", "payload").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state() === folded)
  }

  test("write-audit-publish under concurrency: racing checked appends all land; a racing violation aborts cleanly") {
    import org.apache.spark.sql.functions._
    import graft.ops.Contracts
    val dir = tempDir("wapmw") + "/table"
    Versioned.commit(spark, rows(0, 5), dir)
    val idPositive = Seq(Contracts.Check("id_min", min(col("id")), _ >= 0.0))
    val writers = 4
    val gate = new java.util.concurrent.CyclicBarrier(writers)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Long]]()
    val s = spark; import s.implicits._
    val threads = (0 until writers).map { i =>
      new Thread(() => {
        try {
          gate.await()
          // writer 2 carries a poison batch: its audit must reject it
          // WITHOUT disturbing the three healthy racers
          val batch =
            if (i == 2) Seq((-1L, "poison")).toDF("id", "payload")
            else rows(100 * (i + 1), 3)
          results.add(Right(Versioned.appendChecked(spark, batch, dir, idPositive)))
        } catch { case t: Throwable => results.add(Left(t)) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    val (errs, oks) = {
      import scala.jdk.CollectionConverters._
      val all = results.asScala.toSeq
      (all.collect { case Left(t) => t }, all.collect { case Right(v) => v })
    }
    assert(oks.size === 3, s"three healthy appends must land, got $oks / $errs")
    assert(errs.size === 1 && errs.head.isInstanceOf[Versioned.ContractViolationException])
    // serialized versions, no lost rows, and no poison anywhere
    assert(Versioned.versions(spark, dir) === (1L to 4L))
    val ids = Versioned.read(spark, dir).select("id").collect().map(_.getLong(0)).toSet
    assert(ids === ((0L until 5L) ++ Seq(100L, 101L, 102L, 200L, 201L, 202L,
      400L, 401L, 402L)).toSet)
    assert(!ids.contains(-1L), "the rejected batch must not leak rows")
  }

  test("write-audit-publish: a contract violation aborts with the head untouched and no debris") {
    import org.apache.spark.sql.functions._
    import graft.ops.Contracts
    val dir = tempDir("wap")
    val idPositive = Seq(
      Contracts.Check("id_min", min(col("id")), _ >= 0.0),
      Contracts.Check("row_count", count(lit(1)).cast("double"), _ >= 1.0))
    // good batch publishes
    val v1 = Versioned.appendChecked(spark, rows(0, 5), dir, idPositive)
    assert(v1 === 1L && Versioned.read(spark, dir).count() === 5L)
    // bad batch (negative id) is rejected: head unchanged, staged files gone
    val s = spark; import s.implicits._
    val bad = Seq((-1L, "poison"), (6L, "ok")).toDF("id", "payload")
    val ex = intercept[Versioned.ContractViolationException] {
      Versioned.appendChecked(spark, bad, dir, idPositive)
    }
    assert(ex.failures.map(_._1) === Seq("id_min"))
    assert(Versioned.versions(spark, dir) === Seq(1L))
    assert(Versioned.read(spark, dir).count() === 5L)
    val dataFiles = new java.io.File(s"$dir/data").listFiles().map(_.getName)
      .filterNot(_.startsWith(".")) // local-FS .crc shadows
    assert(dataFiles.forall(_.startsWith("v1-")),
      s"rejected staged files must be deleted eagerly, found: ${dataFiles.mkString(",")}")
    // checked REPLACE: violation keeps v1 readable, success replaces
    intercept[Versioned.ContractViolationException] {
      Versioned.commitChecked(spark, bad, dir, idPositive)
    }
    assert(Versioned.read(spark, dir).count() === 5L)
    val v2 = Versioned.commitChecked(spark, rows(100, 3), dir, idPositive)
    assert(v2 === 2L && Versioned.read(spark, dir).count() === 3L)
  }

  // ------------------------------------------------- D28 deletion vectors

  private def manifestFiles(dir: String, v: Long): Set[String] =
    Versioned.newFiles(spark, dir, -1L, v).get
      .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet

  test("deleteWhere masks rows with ZERO data rewrite; time travel is exact; no-match is a no-op") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("dv-basic") + "/table"
    val s = spark
    import s.implicits._
    val seed = (0L until 100L).map(i => (i, s"p$i")).toDF("id", "payload")
      .repartitionByRange(4, col("id"))
    Versioned.commit(spark, seed, dir)                                  // v1
    val v1Files = manifestFiles(dir, 1L)
    val v2 = Versioned.deleteWhere(spark, dir, col("id") >= 10 && col("id") < 20)
    assert(v2 === 2L)
    assert(manifestFiles(dir, 2L) === v1Files,
      "a dv delete must not stage, rewrite, or drop any DATA file")
    assert(Versioned.dvsOf(spark, dir, 2L).nonEmpty, "v2 must carry dv pointers")
    val live = Versioned.read(spark, dir).select("id").collect().map(_.getLong(0)).sorted
    assert(live.toSeq === ((0L until 10L) ++ (20L until 100L)))
    assert(Versioned.read(spark, dir, 1L).count() === 100L,
      "the pre-delete snapshot reads the masked rows back")
    // predicate matching nothing: same version back, no commit
    assert(Versioned.deleteWhere(spark, dir, col("id") === 9999L) === 2L)
    assert(Versioned.versions(spark, dir) === Seq(1L, 2L))
    // stacked delete on an already-masked file unions positions
    val v3 = Versioned.deleteWhere(spark, dir, col("id") === 15L || col("id") === 42L)
    assert(v3 === 3L && Versioned.read(spark, dir).count() === 89L)
    assert(Versioned.read(spark, dir).where(col("id").isin(15L, 42L, 11L)).isEmpty)
    // an APPEND after deletes rebases the pointers forward: masked rows
    // stay masked, appended rows land
    Versioned.append(spark, Seq((500L, "new")).toDF("id", "payload"), dir) // v4
    assert(Versioned.read(spark, dir).count() === 90L)
    assert(Versioned.read(spark, dir).where(col("id") === 42L).isEmpty)
    // prunedRead composes with the mask: [10, 25] ∖ masked{10..19} = 20..25
    val pruned = Versioned.prunedRead(spark, dir, "id", 10L, 25L)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(pruned.toSeq === (20L to 25L))
  }

  test("changeFeed across a deleteWhere emits exactly the masked rows as deletes; newFiles reports non-append") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("dv-feed") + "/table"
    val s = spark
    import s.implicits._
    val seed = (0L until 60L).map(i => (i, i % 3 match { case 0 => "en"; case 1 => "fr"; case _ => "de" }, i))
      .toDF("id", "lang", "n_chars").repartitionByRange(3, col("id"))
    Versioned.commit(spark, seed, dir)                                   // v1
    Versioned.deleteWhere(spark, dir, col("lang") === "fr")              // v2
    assert(Versioned.newFiles(spark, dir, 1L, 2L).isEmpty,
      "a dv delete changes rows, so the file-level delta must refuse")
    val feed = Versioned.changeFeed(spark, dir, 1L, 2L, keyCol = "id")
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map("delete" -> 20L))
    val deletedIds = feed.select("id").collect().map(_.getLong(0)).toSet
    assert(deletedIds === (0L until 60L).filter(_ % 3 == 1).toSet)
    // incremental aggregate maintenance absorbs the delete via the feed
    val state = tempDir("dv-feed-state") + "/agg"
    graft.ops.IncrementalAgg.refresh(spark, dir, state)
    Versioned.deleteWhere(spark, dir, col("lang") === "de")              // v3
    assert(graft.ops.IncrementalAgg.refresh(spark, dir, state) === ((3L, true)),
      "a dv delete shares every file — the signed feed path must apply")
    val st = Versioned.read(spark, state).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_docs")).toMap
    assert(st === Map("en" -> 20L))
  }

  test("MERGE on a dv-bearing table never resurrects masked rows; untouched files keep their pointers") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("dv-merge") + "/table"
    val s = spark
    import s.implicits._
    val seed = (0L until 40L).map(i => (i, s"v0-$i")).toDF("id", "payload")
      .repartitionByRange(4, col("id"))
    Versioned.commit(spark, seed, dir)                                   // v1
    Versioned.deleteWhere(spark, dir, col("id") < 5 || col("id") >= 35)  // v2
    val dvsBefore = Versioned.dvsOf(spark, dir, 2L)
    assert(dvsBefore.size >= 2, "the delete straddles at least the two edge files")
    // merge touches ONLY the file holding id=12 (files are range-split)
    val changes = Seq((12L, "v1-12", "update", 1L))
      .toDF("id", "payload", "operation_type", "seq")
    val v3 = Versioned.merge(spark, changes, dir, keyCol = "id", orderCol = "seq")
    val after = Versioned.read(spark, dir, v3)
    assert(after.count() === 30L, "masked rows must not come back through the rewrite")
    assert(after.where(col("id") === 12L).head().getString(1) === "v1-12")
    assert(after.where(col("id") < 5L).isEmpty)
    val dvsAfter = Versioned.dvsOf(spark, dir, v3)
    assert(dvsAfter.nonEmpty && dvsAfter.forall { case (f, d) => dvsBefore.get(f).contains(d) },
      "files the merge did not rewrite keep their exact dv pointers")
    // a merge DELETE of an id in a masked file's range composes
    val del = Seq((36L, "", "delete", 1L)).toDF("id", "payload", "operation_type", "seq")
    Versioned.merge(spark, del, dir, keyCol = "id", orderCol = "seq")
    assert(Versioned.read(spark, dir).count() === 30L,
      "id=36 was already dv-masked; the keyed delete is a clean no-op on rows")
  }

  test("OPTIMIZE materializes deletion vectors; vacuum reclaims repointed sidecars but spares live ones") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("dv-optimize") + "/table"
    val s = spark
    import s.implicits._
    val seed = (0L until 50L).map(i => (i, s"p$i")).toDF("id", "payload")
      .repartitionByRange(5, col("id"))
    Versioned.commit(spark, seed, dir)                                   // v1
    Versioned.deleteWhere(spark, dir, col("id") % 10 === 0)              // v2: dv A
    val dvA = Versioned.dvsOf(spark, dir, 2L).values.head
    Versioned.deleteWhere(spark, dir, col("id") % 10 === 1)              // v3: dv B
    assert(Versioned.read(spark, dir).count() === 40L)
    // optimize compacts the small files, applying the masks — the new
    // snapshot has NO dv pointers and identical rows
    val v4 = Versioned.optimize(spark, dir, targetBytes = 1L << 20)
    assert(v4 === 4L)
    assert(Versioned.dvsOf(spark, dir, v4).isEmpty, "compaction materializes the dvs")
    val after = Versioned.read(spark, dir).select("id").collect().map(_.getLong(0)).toSet
    assert(after === (0L until 50L).filter(i => i % 10 != 0 && i % 10 != 1).toSet)
    assert(manifestFiles(dir, 4L).size < manifestFiles(dir, 3L).size)
    // time travel before materialization still applies the v3 masks
    assert(Versioned.read(spark, dir, 3L).count() === 40L)
    assert(Versioned.read(spark, dir, 1L).count() === 50L)
    // keepLast=1 retains only v4 (dv-free): both sidecars lose their last
    // referencing manifest and are reclaimed like any unreferenced file
    val deleted = Versioned.vacuum(spark, dir, keepLast = 1, graceMs = 0L)
    assert(deleted.exists(_.contains(dvA)), s"superseded sidecar must go: $deleted")
    assert(Versioned.read(spark, dir).count() === 40L)
  }

  test("deleteWhere is replace-flavored OCC: a raced delete throws and the retry re-derives against the new head") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("dv-race") + "/table"
    val s = spark
    import s.implicits._
    Versioned.commit(spark, (0L until 20L).map(i => (i, s"p$i")).toDF("id", "payload"), dir)
    // simulate the race: a foreign append lands between the delete's basis
    // resolve and its publish — drive it by hand through the public API
    // (resolve, then append, then delete must throw)
    val raced = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t = new Thread(() => {
      try {
        // this delete computes against v1; the main thread's append will
        // land first because we gate on a latch inside the data read
        Thread.sleep(150)
        Versioned.deleteWhere(spark, dir, col("id") < 5)
      } catch { case e: Throwable => raced.set(e) }
    })
    t.start()
    Versioned.append(spark, Seq((100L, "x")).toDF("id", "payload"), dir)
    t.join(30000)
    // whichever interleaving happened, the table is consistent: either the
    // delete saw v2 and masked 5 rows of 21, or it raced and threw
    raced.get() match {
      case null =>
        assert(Versioned.read(spark, dir).count() === 16L)
      case e: Versioned.ConcurrentWriteException =>
        Versioned.deleteWhere(spark, dir, col("id") < 5) // the retry recipe
        assert(Versioned.read(spark, dir).count() === 16L)
        assert(e.getMessage.contains("retry"))
      case e => fail(s"unexpected failure: $e")
    }
  }

  test("clustered OPTIMIZE: a scattered layout re-sorts in-history; pruning tightens, rows and time travel are exact") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val dir = tempDir("versioned-cluster") + "/table"
    // 200 keys hash-scattered across 5 files: every file's [min,max] spans
    // the whole key range, so a point-range prunedRead must read all 5
    val seed = (0 until 200).map(i => (i.toLong, s"payload$i")).toDF("id", "payload")
      .repartition(5, col("payload"))
    Versioned.commit(spark, seed, dir)                                     // v1
    val scattered = Versioned.prunedRead(spark, dir, "id", 5L, 7L)
    assert(scattered.inputFiles.length >= 3,
      "a hash-scattered layout mostly cannot prune — the fixture's premise")
    // mask one row first so the clustered rewrite must materialize the dv
    Versioned.deleteWhere(spark, dir, col("id") === 6L)                    // v2
    val v = Versioned.optimize(spark, dir,
      targetBytes = 4L * 1024, clusterBy = Seq("id"))                      // v3
    assert(v === 3L)
    assert(Versioned.dvsOf(spark, dir, v).isEmpty, "rewrite materializes dvs")
    // identical rows (minus the masked one), tight per-file bounds
    val after = Versioned.read(spark, dir).collect().map(_.getLong(0)).sorted
    assert(after.toSeq === (0L until 200L).filterNot(_ == 6L))
    val pruned = Versioned.prunedRead(spark, dir, "id", 5L, 7L)
    assert(pruned.inputFiles.length === 1,
      s"clustered layout answers a 3-key range from 1 file (read ${pruned.inputFiles.length})")
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq === Seq(5L, 7L))
    // history intact: the pre-optimize scattered snapshot still reads, and
    // the rewrite is correctly a non-append for incremental consumers
    assert(Versioned.read(spark, dir, 1).count() === 200L)
    assert(Versioned.newFiles(spark, dir, 2L, 3L).isEmpty,
      "clustered optimize is not a pure append")
  }

  test("MERGE schema evolution: opt-in extra columns widen the table; untouched rows surface null; default refuses") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val dir = tempDir("versioned-merge-evolve") + "/table"
    val seed = (0 until 40).map(i => (i.toLong, s"payload$i")).toDF("id", "payload")
      .repartitionByRange(4, col("id"))
    Versioned.commit(spark, seed, dir)
    val changes = Seq(
      (5L, "fresh", 0.9, "update", 1L),
      (1000L, "new", 0.5, "insert", 2L)
    ).toDF("id", "payload", "score", "operation_type", "seq")
    // default: an unexpected column is a bug, not a silent widening
    val e = intercept[IllegalArgumentException] {
      Versioned.merge(spark, changes, dir, keyCol = "id", orderCol = "seq")
    }
    assert(e.getMessage.contains("score") && e.getMessage.contains("mergeSchema"))
    val v = Versioned.merge(spark, changes, dir, keyCol = "id", orderCol = "seq",
      mergeSchema = true)
    assert(v === 2L)
    val got = Versioned.read(spark, dir, mergeSchema = true).collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.getAs[java.lang.Double]("score")).map(_.toDouble))).toMap
    assert(got.size === 41)
    assert(got(5L) === (("fresh", Some(0.9))), "upserted row carries the new column")
    assert(got(1000L) === (("new", Some(0.5))))
    assert(got(7L) === (("payload7", None)),
      "a row in the rewritten file but not in the change set null-fills")
    assert(got(39L) === (("payload39", None)),
      "rows in files the merge never touched surface null through mergeSchema")
    // a second merge on the already-widened table carrying the FULL evolved
    // column set needs no flag — and, the r16 data-loss regression pin: the
    // UNFLAGGED merge must resolve the heterogeneous table's schema across
    // all files, so survivors rewritten from POST-evolution files keep their
    // `score` values instead of losing them to a pre-evolution inferred schema
    val more = Seq((6L, "six", 0.1, "update", 3L))
      .toDF("id", "payload", "score", "operation_type", "seq")
    Versioned.merge(spark, more, dir, keyCol = "id", orderCol = "seq")
    assert(Versioned.read(spark, dir, mergeSchema = true)
      .where(col("id") === 6L).head().getAs[Double]("score") === 0.1)
    assert(Versioned.read(spark, dir, mergeSchema = true)
      .where(col("id") === 1000L).head().getAs[Double]("score") === 0.5,
      "evolved values in files the unflagged merge rewrote must survive")
    // strict mode on an evolved table with a change set that OMITS the
    // evolved column fails loudly at entry, naming the gap — never a silent
    // column drop, never a deep analysis error
    val narrowStrict = Seq((9L, "nine", "update", 9L))
      .toDF("id", "payload", "operation_type", "seq")
    val e2 = intercept[IllegalArgumentException] {
      Versioned.merge(spark, narrowStrict, dir, keyCol = "id", orderCol = "seq")
    }
    assert(e2.getMessage.contains("omits") && e2.getMessage.contains("score"))
    // the REVERSE direction: a change set may OMIT a column a prior commit
    // evolved in — mergeSchema null-fills it on the upserted row while a
    // touched file that predates the column null-fills its survivors
    val narrow = Seq((8L, "eight", "update", 4L))
      .toDF("id", "payload", "operation_type", "seq")
    Versioned.merge(spark, narrow, dir, keyCol = "id", orderCol = "seq",
      mergeSchema = true)
    val after = Versioned.read(spark, dir, mergeSchema = true).collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.getAs[java.lang.Double]("score")))).toMap
    assert(after(8L) === (("eight", None)), "omitted evolved column null-fills the upsert")
    assert(after(6L) === (("six", Some(0.1))), "prior evolved values survive")
  }

  test("operation log: history names each commit kind in order; readAsOf travels by wall clock") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val dir = tempDir("versioned-history") + "/table"
    Versioned.commit(spark, rows(0, 10), dir)                            // v1 replace
    Versioned.append(spark, rows(100, 5), dir)                          // v2 append
    val changes = Seq((0L, "fresh", "update", 1L))
      .toDF("id", "payload", "operation_type", "seq")
    Versioned.merge(spark, changes, dir, keyCol = "id", orderCol = "seq") // v3 merge
    Versioned.deleteWhere(spark, dir, col("id") === 101L)                // v4 delete
    Versioned.optimize(spark, dir, targetBytes = 64L * 1024 * 1024)      // v5 optimize
    Versioned.rollback(spark, dir, to = 2L)                              // v6 rollback
    val h = Versioned.history(spark, dir)
    assert(h.map(t => (t._1, t._2)) === Seq(1L -> "replace", 2L -> "append",
      3L -> "merge", 4L -> "delete", 5L -> "optimize", 6L -> "rollback"))
    val tss = h.map(_._3)
    assert(tss.zip(tss.tail).forall { case (a, b) => a <= b }, "publish times ascend")
    assert(h.head._5 > 0, "n_files recorded")
    // timestamp travel: as-of each commit's own ts reads that version's rows
    val atV1 = Versioned.readAsOf(spark, dir, h.head._3)
    assert(atV1.count() === 10L, "as-of v1's publish instant reads v1")
    assert(Versioned.readAsOf(spark, dir, h.last._3 + 60000L).count() === 15L,
      "a future instant reads the head (the v2 state the rollback restored)")
    intercept[IllegalArgumentException] {
      Versioned.readAsOf(spark, dir, h.head._3 - 60000L)
    }
    // the audited commits, a clustered optimize and a merge writer's
    // bootstrap and merge epoch record their kind and epoch the same way
    import graft.ops.Contracts
    val idPositive = Seq(Contracts.Check("id_min", min(col("id")), _ >= 0.0))
    val audited = tempDir("versioned-history-audited") + "/table"
    Versioned.commitChecked(spark, rows(0, 10), audited, idPositive, epoch = 3L) // v1
    Versioned.appendChecked(spark, rows(100, 5), audited, idPositive)           // v2
    Versioned.optimize(spark, audited, clusterBy = Seq("id"))                   // v3
    assert(Versioned.history(spark, audited).map(t => (t._1, t._2, t._4)) === Seq(
      (1L, "replace", 3L), (2L, "append", -1L), (3L, "optimize", -1L)))
    val merged = tempDir("versioned-history-merge")
    val w = Versioned.epochMergeWriter(merged, keyCol = "id", orderCol = "seq")
    w(Seq((1L, "a", "insert", 1L), (2L, "b", "insert", 2L))
      .toDF("id", "payload", "operation_type", "seq"), 0L)                    // v1 bootstrap
    w(Seq((1L, "a2", "update", 3L)).toDF("id", "payload", "operation_type", "seq"), 1L) // v2
    assert(Versioned.history(spark, merged).map(t => (t._1, t._2, t._4)) === Seq(
      (1L, "replace", 0L), (2L, "merge", 1L)))
  }

  test("tags pin versions through vacuum: a tagged release stays readable past retention; untag releases it") {
    val s = spark
    import s.implicits._
    val dir = tempDir("versioned-tags") + "/table"
    Versioned.commit(spark, rows(0, 10), dir)                       // v1
    assert(Versioned.tag(spark, dir, "release-A") === 1L)           // default = latest
    Versioned.commit(spark, rows(100, 10), dir)                     // v2 (replace: v1 files now unique to v1)
    Versioned.append(spark, rows(200, 5), dir)                      // v3
    // immutability + validation
    intercept[IllegalStateException] { Versioned.tag(spark, dir, "release-A", 2L) }
    assert(!new java.io.File(dir).list().exists(_.contains("_staging-tag-")),
      "a lost tag race leaves no temp behind")
    intercept[IllegalArgumentException] { Versioned.tag(spark, dir, "nope", 99L) }
    intercept[IllegalArgumentException] { Versioned.tag(spark, dir, "../evil", 1L) }
    assert(Versioned.tags(spark, dir) === Map("release-A" -> 1L))
    // retention would drop v1 and v2 — the tag pins v1 (manifest AND files)
    val deleted = Versioned.vacuum(spark, dir, keepLast = 1, graceMs = 0L)
    assert(Versioned.versions(spark, dir) === Seq(1L, 3L),
      "v2 reclaimed, tagged v1 pinned, head v3 retained")
    assert(deleted.exists(_ == "manifest-v2.json"))
    assert(Versioned.readTag(spark, dir, "release-A").collect().map(_.getLong(0)).sorted
      === (0L until 10L).toArray, "the tagged release reads bit-for-bit after vacuum")
    assert(Versioned.read(spark, dir).count() === 15L, "head = v2 replace + v3 append")
    // retag moves the name atomically; untag releases the pin for vacuum
    assert(Versioned.retag(spark, dir, "release-A", 3L) === 3L)
    assert(Versioned.tags(spark, dir) === Map("release-A" -> 3L))
    assert(Versioned.untag(spark, dir, "release-A"))
    assert(!Versioned.untag(spark, dir, "release-A"), "second untag reports absence")
    val deleted2 = Versioned.vacuum(spark, dir, keepLast = 1, graceMs = 0L)
    assert(Versioned.versions(spark, dir) === Seq(3L), "unpinned v1 reclaimed")
    assert(deleted2.exists(_ == "manifest-v1.json"))
  }

  test("SCD2 maintenance composes with MERGE: the delta rewrites only affected-key files; the table equals the full rebuild") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    import graft.events.ChangeEvents
    val dir = tempDir("versioned-scd2") + "/table"
    // 20 dimension keys born at ids 10..200; the batch touches only keys
    // 17/18/19 (update, update, delete-then-reopen) — high scd_keys, so a
    // range-clustered history isolates them in the tail file
    val feed = ((1 to 20).map(k => (k.toLong, k * 10L, "insert", s"{v$k}")) ++ Seq(
      (18L, 300L, "update", "{v18b}"),
      (19L, 301L, "delete", "{x}"),
      (19L, 305L, "insert", "{v19b}"),
      (17L, 302L, "update", "{v17b}")
    )).toDF("document_key", "event_id", "operation_type", "full_document")
    val skey = (col("document_key") * 100000L + col("valid_from_id")).as("scd_key")
    val history = ChangeEvents.scd2Fold(feed.where(col("event_id") <= 200))
      .select(col("*"), skey)
    Versioned.commit(spark, history.repartitionByRange(5, col("scd_key")), dir)
    val before = Versioned.newFiles(spark, dir, -1L, 1L).get
      .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    assert(before.size === 5)
    // the incremental delta is exactly the maintained rows history lacks:
    // closed versions (same scd_key, new bounds) + the batch's own versions
    val maintained = ChangeEvents
      .scd2Maintain(history.drop("scd_key"), feed.where(col("event_id") > 200))
      .select(col("*"), skey)
    val delta = maintained.except(history)
      .withColumn("op", lit("upsert")).withColumn("seq", col("scd_key"))
    val v = Versioned.merge(spark, delta, dir,
      keyCol = "scd_key", orderCol = "seq", opCol = "op")
    assert(v === 2L)
    val after = {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/manifest-v2.json")))
      val fl = node.path("files")
      (0 until fl.size()).map(fl.get(_).asText()).toSet
    }
    // keys 17-19's open versions live in the tail range file; the other
    // four files of the history ride into v2 by name, zero bytes moved
    assert((before & after).size === 4,
      s"exactly 1 of 5 files rewritten: kept=${(before & after).size}")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("document_key"), r.getAs[Long]("valid_from_id"),
        Option(r.getAs[java.lang.Long]("valid_to_id")).map(_.toLong),
        r.getAs[Boolean]("is_current"), r.getAs[String]("full_document")))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(canon(Versioned.read(spark, dir).drop("scd_key")) ===
      canon(ChangeEvents.scd2Fold(feed)),
      "merged table must equal the full-feed rebuild")
    // time travel still reads the pre-batch history
    assert(Versioned.read(spark, dir, 1).count() === history.count())
  }
}
