package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Dataset maintenance (SURVEY.md §2 D11): small-file compaction. A
  * long-running epoch-partitioned stream (queue sink, dedup-ingest index)
  * accrues one small file per epoch; at cluster scale the resulting
  * listing/open overhead dominates reads long before data volume does.
  * Compaction rewrites a directory into size-targeted files.
  *
  * The file census comes from the filesystem listing (metadata-only, no
  * data read); the rewrite is one `repartition(n)` pass — a single shuffle
  * sized so output files land near `targetBytes`. The write goes to a NEW
  * directory: swap-on-success (rename/replace) keeps readers consistent,
  * mirroring how table formats commit compactions.
  */
object Maintenance {

  /** Total bytes + file count under `dir` (recursive, data files only —
    * every path component under `dir` must be non-hidden by Spark's
    * convention: no '_' or '.' prefix, which also skips the `_temporary`
    * subtree debris of in-flight or failed writes).
    */
  def fileCensus(spark: SparkSession, dir: String): (Long, Long) = {
    val raw = new org.apache.hadoop.fs.Path(dir)
    val fs = raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Qualify BEFORE deriving the strip base: a relative `dir` would strip
    // nothing from the absolute listing paths, and ancestor directories
    // (a CI workspace's /_work, anything under a .cache) would then be
    // scanned for hidden-prefix segments — marking every file hidden and
    // silently compacting any dataset to one file.
    val path = fs.makeQualified(raw)
    val base = path.toUri.getPath
    val it = fs.listFiles(path, true)
    var bytes = 0L
    var files = 0L
    while (it.hasNext) {
      val f = it.next()
      val rel = f.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
      val hidden = rel.split("/").exists(seg => seg.startsWith("_") || seg.startsWith("."))
      if (!hidden) { bytes += f.getLen; files += 1 }
    }
    (bytes, files)
  }

  /** Output file count for `bytes` of input at `targetBytes` per file —
    * ONE sizing rule for every compaction entry point.
    */
  private def filesFor(bytes: Long, targetBytes: Long): Int =
    math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)

  /** Compact the parquet data under `inDir` into `outDir` with files sized
    * near `targetBytes`. Returns (rows, filesBefore, filesAfter). The
    * returned row count is read back from the compacted OUTPUT — one scan
    * of the (few, large) result files that doubles as a read-back check.
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
              targetBytes: Long = 128L * 1024 * 1024): (Long, Long, Long) = {
    val (bytes, before) = fileCensus(spark, inDir)
    val nOut = filesFor(bytes, targetBytes)
    val df = spark.read.parquet(inDir)
    df.repartition(nOut).write.mode("overwrite").parquet(outDir)
    val rows = spark.read.parquet(outDir).count()
    val (_, after) = fileCensus(spark, outDir)
    (rows, before, after)
  }

  /** The compacted frame for callers that want to keep composing. */
  def compacted(spark: SparkSession, inDir: String,
                targetBytes: Long = 128L * 1024 * 1024): DataFrame = {
    val (bytes, _) = fileCensus(spark, inDir)
    val nOut = filesFor(bytes, targetBytes)
    spark.read.parquet(inDir).repartition(nOut)
  }

  /** D13 — range-clustered layout: rewrite `df` so each output file covers
    * a DISJOINT range of `keys`. `repartitionByRange` samples the key
    * distribution (balanced files even under value skew — a hash layout
    * can't promise that) and the within-partition sort tightens parquet
    * row-group min/max statistics, so a reader filtering on the cluster
    * key prunes every non-covering file at planning time and every
    * non-covering row group at scan time. This is the layout step a
    * 100 TB time-range or id-range workload runs after compaction; the
    * census-driven file sizing is [[compacted]]'s, reused.
    */
  def writeClustered(df: DataFrame, outDir: String, nFiles: Int, keys: String*): Unit = {
    require(keys.nonEmpty, "clustering needs at least one key column")
    df.repartitionByRange(math.max(1, nFiles), keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
      .write.mode("overwrite").parquet(outDir)
  }

  /** D20 — Z-order (Morton) layout: interleave the bits of SEVERAL cluster
    * keys so each output file covers a small hyper-rectangle of the joint
    * key space, instead of a thin full-width slice of all-but-the-first key
    * that a lexicographic sort produces. A reader filtering on ANY subset
    * of the z-ordered columns then prunes most files from their parquet
    * min/max footers — the multi-predicate data-skipping layout every
    * lakehouse format's OPTIMIZE implements, for workloads that filter on
    * (say) user AND time ranges independently.
    *
    * Mechanics, all codegen arithmetic on the write path:
    *  1. one tiny aggregate pass collects each key's min/max (driver-side
    *     scalars, literal'd into the plan);
    *  2. each key scales uniformly to a `bits`-bit integer bucket;
    *  3. buckets interleave bit-by-bit into one z-value (`bits × n` shift/
    *     mask/or terms — whole-stage codegen swallows them);
    *  4. `repartitionByRange` on the z-value (sampled, so files stay
    *     size-balanced) + a within-partition sort tightens the per-file and
    *     per-row-group min/max of EVERY interleaved column at once.
    *
    * Uniform scaling is deliberate: it keeps the bucket map pure codegen'd
    * arithmetic with no per-row search. Heavily skewed keys concentrate
    * z-values and degrade pruning (never correctness) — pre-transform such
    * a key (log, epoch-day, id-minus-base) or bucket it upstream, the same
    * advice table formats give. Null keys z-sort first, together.
    */
  def writeZOrdered(df: DataFrame, outDir: String, nFiles: Int,
                    bits: Int, keys: String*): Unit = {
    import org.apache.spark.sql.functions._
    require(keys.size >= 2, "z-order needs at least two keys (one key → writeClustered)")
    require(keys.size * bits <= 62, s"${keys.size} keys × $bits bits overflows a long z-value")
    val n = keys.size
    val bounds = df.agg(
      min(col(keys.head).cast("double")).as("mn0"),
      keys.tail.flatMap(k => Seq(max(col(k).cast("double")).as(s"mx_$k"),
        min(col(k).cast("double")).as(s"mn_$k"))) :+
        max(col(keys.head).cast("double")).as("mx0"): _*).head()
    def mnmx(i: Int): (Double, Double) =
      if (i == 0) (bounds.getAs[Double]("mn0"), bounds.getAs[Double]("mx0"))
      else (bounds.getAs[Double](s"mn_${keys(i)}"), bounds.getAs[Double](s"mx_${keys(i)}"))
    val maxBucket = (1L << bits) - 1
    val zcol = keys.indices.flatMap { i =>
      val (mn, mx) = mnmx(i)
      val span = math.max(mx - mn, java.lang.Double.MIN_NORMAL)
      val scaled = (col(keys(i)).cast("double") - lit(mn)) / lit(span) * lit(maxBucket.toDouble)
      val bucket = least(greatest(round(scaled, 0).cast("long"), lit(0L)), lit(maxBucket))
      (0 until bits).map(b =>
        shiftleft(shiftright(bucket, b).bitwiseAND(lit(1L)), b * n + i))
    }.reduce(_ bitwiseOR _)
    df.withColumn("__graft_z", zcol)
      .repartitionByRange(math.max(1, nFiles), col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_z")
      .write.mode("overwrite").parquet(outDir)
  }

  /** D21 — bloom-filtered point-lookup layout: write parquet with a BLOOM
    * FILTER on each `keys` column, the data-skipping structure for point
    * equality lookups on HIGH-CARDINALITY keys where min/max clustering
    * (D13/D20) cannot help — a clustered layout prunes by range, but "find
    * event/user X" on an unsorted or differently-sorted key reads every
    * row group whose [min,max] spans X, which for a uniform key is ALL of
    * them. The bloom filter answers "definitely not here" per row group at
    * a few bits per distinct value, so a reader (Spark's parquet reader
    * consults blooms on equality predicates, as does every parquet-mr
    * based engine) skips row groups with no candidate match.
    *
    * `expectedNdv` sizes the filter (parquet-mr derives bits from the
    * target false-positive rate); pass the PER-FILE distinct count, not
    * the table's. Complements, not replaces, the sorted layouts: range
    * queries want D13/D20, point lookups on a second uncorrelated key
    * want this — and the options compose onto one write when both shapes
    * matter.
    */
  def writeBloomFiltered(df: DataFrame, outDir: String, nFiles: Int,
                         expectedNdv: Long, keys: String*): Unit = {
    require(keys.nonEmpty, "bloom layout needs at least one key column")
    val base = df.repartition(math.max(1, nFiles)).write.mode("overwrite")
    keys.foldLeft(base) { (w, k) =>
      w.option(s"parquet.bloom.filter.enabled#$k", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$k", expectedNdv.toString)
    }.parquet(outDir)
  }

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Stores whose "directories" are key prefixes: rename is copy+delete,
    * non-atomic, so the swap protocol cannot run there.
    */
  // wasb/wasbs (flat-namespace Azure Blob) renames are client-side
  // copy+delete — non-atomic like the S3 family. abfs/abfss with a
  // hierarchical namespace (ADLS Gen2) renames atomically and stays allowed.
  private val RenameUnsafeSchemes =
    Set("s3", "s3a", "s3n", "gs", "oss", "cos", "swift", "wasb", "wasbs")

  /** Sibling staging paths for an in-place compaction of `dir`. The '_'
    * prefix keeps Spark/Hadoop readers from ever listing them as data.
    */
  private def stagingPaths(dir: String): (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path) = {
    val path = new org.apache.hadoop.fs.Path(dir)
    (path,
      new org.apache.hadoop.fs.Path(path.getParent, "_" + path.getName + ".compact-tmp"),
      new org.apache.hadoop.fs.Path(path.getParent, "_" + path.getName + ".compact-old"))
  }

  /** Compact `dir` IN PLACE with a swap-on-success commit: the rewrite goes
    * to a hidden sibling temp dir; only after it fully succeeds AND the row
    * count verifies equal does the swap happen — two directory renames
    * (dir→old, tmp→dir), each atomic on POSIX and HDFS. Readers therefore
    * observe the old file set or the new one, never a partial mix; any
    * failure before the first rename leaves the original untouched, a
    * failure between the renames is rolled back here and is recoverable
    * after a crash via [[recoverCompaction]]. Returns
    * (rows, filesBefore, filesAfter).
    *
    * ASSUMPTIONS (enforced where detectable): single writer — the census,
    * count, and rewrite are separate scans of a live directory, so a
    * concurrent append between them aborts the compaction (safe, but wasted
    * work) and a writer racing the swap itself can land files in the
    * staged-aside copy; schedule compaction in the sink's maintenance
    * window, as the reference's capped-collection cleanup does. Directory
    * rename is atomic on POSIX and HDFS (and ADLS Gen2); object stores that
    * fake directories (s3://, gs://) copy-and-delete instead, so the swap
    * would expose a partial listing — those schemes are rejected up front.
    * Use [[compacted]] + a write-to-new-location commit there.
    */
  def compactInPlace(spark: SparkSession, dir: String,
                     targetBytes: Long = 128L * 1024 * 1024): (Long, Long, Long) = {
    val (path, tmp, old) = stagingPaths(dir)
    val fs = fsOf(spark, path)
    val scheme = Option(path.toUri.getScheme).getOrElse(
      fs.getUri.getScheme match { case null => "file"; case s => s })
    require(!RenameUnsafeSchemes.contains(scheme.toLowerCase(java.util.Locale.ROOT)),
      s"compactInPlace swaps directories by rename, which '$scheme' cannot do " +
        "atomically — write a compacted copy via Maintenance.compacted and commit " +
        "it with the store's own atomic primitive instead")
    fs.delete(tmp, true)
    require(!fs.exists(old),
      s"$old exists — an interrupted compaction needs recoverCompaction($dir) first")
    val (bytes, before) = fileCensus(spark, dir)
    val nOut = filesFor(bytes, targetBytes)
    val inRows = spark.read.parquet(dir).count()
    spark.read.parquet(dir).repartition(nOut).write.mode("overwrite").parquet(tmp.toString)
    val rows = spark.read.parquet(tmp.toString).count()
    if (rows != inRows) {
      fs.delete(tmp, true)
      throw new IllegalStateException(
        s"compaction rewrite of $dir produced $rows rows, expected $inRows — aborting before swap")
    }
    if (!fs.rename(path, old))
      throw new java.io.IOException(s"could not stage $dir aside to $old")
    if (!fs.rename(tmp, path)) {
      // The error must state the TRUE directory state: a failed rollback
      // (racing writer recreated dir, transient FS fault) previously still
      // reported "original restored" while dir was gone, sending the
      // operator away from the recoverCompaction they actually need.
      if (fs.rename(old, path))
        throw new java.io.IOException(s"could not swap $tmp into $dir — original restored")
      throw new java.io.IOException(
        s"could not swap $tmp into $dir AND rolling back $old failed — " +
          s"$dir is missing; run recoverCompaction($dir)")
    }
    fs.delete(old, true)
    val (_, after) = fileCensus(spark, dir)
    (rows, before, after)
  }

  /** Finish or roll back an in-place compaction interrupted by a crash.
    * State machine over the three staging paths (see [[compactInPlace]]):
    *  - dir present, old present  → crash after the commit rename: the new
    *    data is live, drop the staged-aside old copy;
    *  - dir absent, old present   → crash between the renames: roll the old
    *    copy back in and discard the (possibly incomplete) temp dir;
    *  - otherwise                 → nothing in flight, drop temp debris.
    * Idempotent; safe to call unconditionally at reader/writer startup.
    */
  def recoverCompaction(spark: SparkSession, dir: String): String = {
    val (path, tmp, old) = stagingPaths(dir)
    val fs = fsOf(spark, path)
    val state =
      if (fs.exists(path) && fs.exists(old)) { fs.delete(old, true); "committed" }
      else if (!fs.exists(path) && fs.exists(old)) {
        if (!fs.rename(old, path))
          throw new java.io.IOException(s"could not restore $old to $dir")
        "rolled-back"
      } else "clean"
    fs.delete(tmp, true)
    state
  }
}
