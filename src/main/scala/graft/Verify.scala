package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare (`tools/parity.py`). A
  * query that fails prints `[verify] <name> failed: <exception>` on stdout
  * and the rest still run; the process then exits 1.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional name filter for single-query iteration (tools/parity.py
    // passes its `names...` through); empty = the driver's full dump
    val only = args.drop(2).toSet
    val spark = BenchHarness.envSession(4)
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .filterNot { case (name, fn) =>
      // Merge to one file WITHOUT losing the query's ORDER BY: the oracle
      // compare matches rows positionally, and a bare repartition(1)'s
      // round-robin shuffle does not guarantee the reduce task concatenates
      // map outputs in order (it happens to in local mode — a latent
      // cluster bug). monotonically_increasing_id() stamps the sorted
      // output (range partitions are ordered by partition id, so the ids
      // are globally ascending), the shuffle moves the rows, and the
      // within-partition sort on the id restores the order exactly. Still
      // NOT coalesce(1): that would fold the whole query's final stage
      // into one task (the narrow-dependency collapse banned in SURVEY §4);
      // this keeps the compute wide and re-sorts only the dumped rows.
      try {
        fn(spark, sfDir)
          .withColumn("__row", org.apache.spark.sql.functions.monotonically_increasing_id())
          .repartition(1).sortWithinPartitions("__row").drop("__row")
          .write.mode("overwrite")
          .parquet(s"$outDir/$name")
        true
      } catch { case e: Throwable =>
        // on stdout, where tools/parity.py looks for `[verify]` lines
        println(s"[verify] $name failed: $e")
        e.printStackTrace()
        false
      } finally Caches.clear(spark) // bound cache growth across the persisting queries
    }.map(_._1)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Jsons.obj(SparkEntry.oracleSql))
    spark.stop()
    if (failed.nonEmpty) {
      println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
