package graft.ops

import graft.Caches
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Dataset write side (SURVEY.md §2 D12): partitioned corpus writer with a
  * committed-last manifest — how a curated corpus actually lands on disk.
  *
  * Scale shape: the frame is repartitioned BY the partition column before
  * `partitionBy`, so each task writes one partition directory instead of
  * every task writing a sliver of every partition (the classic small-files
  * explosion: tasks × partitions files). `maxRecordsPerFile` bounds file
  * size from above; [[Maintenance.compactInPlace]] is the after-the-fact
  * repair for sinks that accreted files anyway.
  *
  * The `_manifest.json` (per-partition row/char counts + totals) is written
  * AFTER the parquet commit: its presence marks a complete dataset, so a
  * reader that gates on the manifest can never observe a half-written
  * corpus. The '_' prefix keeps Spark from listing it as data.
  */
object CorpusWriter {

  /** RFC 8259 string escape — partition values and column names are user
    * data and may hold quotes/backslashes/control chars; raw interpolation
    * would emit invalid JSON. One shared implementation (graft.Jsons).
    */
  private def jsonStr(s: String): String = graft.Jsons.quote(s)

  /** Write `df` under `outDir` partitioned by `partitionCol`; returns the
    * manifest JSON string that was committed.
    */
  def write(df: DataFrame, outDir: String, partitionCol: String = "lang",
            maxRecordsPerFile: Long = 1000000L): String = {
    val spark = df.sparkSession
    // The frame feeds TWO actions — the stats collect and the parquet
    // write. Persisted so the upstream plan (possibly the whole fused
    // curation pipeline) runs once, and so both actions see the SAME rows:
    // without it a nondeterministic or source-mutated plan could commit a
    // manifest whose totals disagree with the data it describes.
    // Caches.persisted: a failed collect or write must not leave the
    // (possibly multi-GB) cache pinned for the session lifetime, and a
    // frame the caller cached stays cached.
    val stats = Caches.persisted(df) { df =>
      val charsCol =
        if (df.columns.contains("n_chars")) sum(col("n_chars")).as("n_chars")
        else lit(null).cast("long").as("n_chars")
      val collected = df.groupBy(partitionCol)
        .agg(count(lit(1)).as("n_rows"), charsCol)
        .orderBy(partitionCol)
        .collect()
      df.repartition(col(partitionCol))
        .write.mode(SaveMode.Overwrite)
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .partitionBy(partitionCol)
        .parquet(outDir)
      collected
    }
    val statCols = df.columns.filter(_ != partitionCol)
    val parts = stats.map { r =>
      // a NULL partition value keys as Spark's on-disk directory name for
      // it — distinct from a partition whose literal string value is
      // "null", which would otherwise collide into one ambiguous JSON key
      val key = Option(r.get(0)).map(v => jsonStr(v.toString))
        .getOrElse(jsonStr("__HIVE_DEFAULT_PARTITION__"))
      val chars = Option(r.get(2)).map(_.toString).getOrElse("null")
      s"""    $key: {"n_rows": ${r.getLong(1)}, "n_chars": $chars}"""
    }.mkString(",\n")
    val manifest =
      s"""{
         |  "partition_col": ${jsonStr(partitionCol)},
         |  "total_rows": ${stats.map(_.getLong(1)).sum},
         |  "columns": [${statCols.map(jsonStr).mkString(", ")}],
         |  "partitions": {
         |$parts
         |  }
         |}
         |""".stripMargin
    val path = new org.apache.hadoop.fs.Path(outDir, "_manifest.json")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try out.write(manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    manifest
  }

  /** True iff `dir` holds a COMMITTED corpus (manifest present) — the gate
    * a reader checks before trusting the listing.
    */
  def isCommitted(df: DataFrame, dir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(dir, "_manifest.json")
    path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).exists(path)
  }
}
