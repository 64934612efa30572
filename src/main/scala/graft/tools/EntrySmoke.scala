package graft.tools

/** The driver's t1 smoke: SparkEntry.entry must return > 0 rows on the
  * sf0.001 testdata. `runMain graft.tools.EntrySmoke` — exits nonzero on an
  * empty result so CI-style use fails loudly.
  */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.BenchHarness.session("4")
    val n = graft.SparkEntry.entry(spark).count()
    println(s"[entry-smoke] rows=$n")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
