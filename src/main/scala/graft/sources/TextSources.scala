package graft.sources

import graft.{LocalFiles, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus interchange-format seams (SURVEY.md §2 D19). Public LLM corpora
  * ship as JSONL (the lingua franca of web-scale dumps) or CSV at least as
  * often as parquet, so the engine needs first-class ingest for both — not
  * just the columnar happy path. Each op round-trips the documents table
  * through the format: an eager interchange write (the lifecycle cost,
  * same pattern as the persisted-IVF build) followed by a schema'd
  * read-back whose content-hash projection the DuckDB oracle compares
  * against the ORIGINAL parquet — proving byte fidelity across the format
  * hop, including JSON string escaping and CSV quoting.
  *
  * Scale rules both readers follow:
  *
  *  - EXPLICIT schema, never `inferSchema`: inference is a second full
  *    pass over 100 TB before the first real one, and its guesses drift
  *    with the sampled rows. The schema is part of the contract.
  *  - FAILFAST mode: a malformed line fails the job with the offending
  *    record in the error, where PERMISSIVE's silent null row surfaces as
  *    a wrong aggregate three queries later.
  *  - Shard-preserving: the write keeps multiple files and the read back
  *    parallelizes line-split within each (uncompressed JSONL/CSV are
  *    byte-range splittable; never whole-file gzip on a corpus — one
  *    100 GB .gz is one task forever).
  *  - The CSV seam stays `multiLine = false` (a multi-line CSV record
  *    cannot be split on byte ranges, so multiLine=true serializes each
  *    file into one task — the same trap as gzip). Corpus text with
  *    embedded newlines belongs in JSONL, where escaping keeps records
  *    line-delimited no matter the content.
  */
object TextSources {

  /** The documents contract, stated once: readers consume this schema
    * EXPLICITLY instead of inferring it from data.
    */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** One private interchange dir per (format, data dir) — parallel suites
    * sharing the JVM cannot interleave into each other's dump; same-dir
    * re-runs overwrite. Removed on JVM exit so repeated bench/verify runs
    * don't accumulate dumps in the system temp dir.
    */
  private[graft] def roundtripDir(dataDir: String, fmt: String): String =
    LocalFiles.scratchDir(s"ingest_$fmt", dataDir)

  /** The oracle-checked fidelity projection: md5 of the round-tripped text
    * against the original parquet's. A format hop that mangles escaping,
    * quoting, or encoding cannot hash-match.
    */
  private def contentCheck(df: DataFrame): DataFrame =
    df.select(col("doc_id"), md5(col("text")).as("text_hash"),
        col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")

  /** D19a — JSONL ingest seam: documents → line-delimited JSON shards →
    * schema'd FAILFAST read-back → content-hash projection.
    */
  def jsonlRoundtrip(spark: SparkSession, dir: String, shards: Int = 4): DataFrame = {
    val out = roundtripDir(dir, "jsonl")
    Tables.documents(spark, dir).repartition(shards)
      .write.mode("overwrite").json(out)
    contentCheck(spark.read.schema(docSchema).option("mode", "FAILFAST").json(out))
  }

  /** D19b — CSV ingest seam: documents → quoted-header CSV shards →
    * schema'd FAILFAST read-back → content-hash projection. `quoteAll`
    * on the writer keeps the file self-describing (a reader needs no
    * per-column quoting heuristics); the reader stays single-line-record
    * for splittability (see object doc).
    */
  def csvRoundtrip(spark: SparkSession, dir: String, shards: Int = 4): DataFrame = {
    val out = roundtripDir(dir, "csv")
    Tables.documents(spark, dir).repartition(shards)
      .write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true").option("escape", "\"")
      // the CSV WRITER trims cell whitespace by default (reader doesn't) —
      // a silent content mangler this seam exists to rule out
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(out)
    contentCheck(spark.read.schema(docSchema)
      .option("header", "true").option("escape", "\"").option("mode", "FAILFAST")
      .csv(out))
  }
}
