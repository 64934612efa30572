package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.{Caches, SparkEntry, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.monotonically_increasing_id

/** The training-data workload: a closed loop with one client running the
  * registered curation operators over seeded documents and embeddings,
  * caches dropped before each operator and results sent to the noop sink.
  * It never touches the connector.
  */
object Curation {

  // One registered operator per family: the whole registered set costs
  // minutes of JIT warm-up per process, far past the per-run budget.
  val families: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("dedup_minhash_pairs"),
    "similarity" -> Seq("embedding_near_dup"),
    "quality" -> Seq("quality_ensemble"),
    "corpus" -> Seq("source_overlap"))

  val nDocs = 500
  val nVecs = 500
  val warmPasses = 5
  val minPasses = 3

  def run(spark: SparkSession, a: Args): Map[String, Any] = {
    val keys = families.flatMap(_._2)
    val dir = a.work.resolve("data").toString
    Feed.writeTable(Feed.documents(spark, nDocs, a.seed), dir, "documents")
    Feed.writeTable(Feed.embeddings(spark, nVecs, a.seed), dir, "embeddings")
    Trace.mark("generated")
    val failures = ArrayBuffer[String]()
    var attempted = 0L
    var failed = 0L

    /** Seconds of one operator run, or None if it threw. */
    def op(key: String, sink: org.apache.spark.sql.DataFrame => Unit): Option[Double] = {
      Caches.clear(spark)
      attempted += 1
      try Some(Trace.timed(sink(SparkEntry.queries(key)(spark, dir)))._2)
      catch { case scala.util.control.NonFatal(e) =>
        failed += 1
        failures += s"$key: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
      }
    }

    // The first pass writes every result for the oracle check (the ordered
    // single-file dump graft.Verify makes); a fixed number of passes then
    // warms up.
    val out = a.work.resolve("out").toString
    keys.foreach(k => op(k, df => df
      .withColumn("__row", monotonically_increasing_id())
      .repartition(1).sortWithinPartitions("__row").drop("__row")
      .write.mode("overwrite").parquet(s"$out/$k")))
    Trace.mark("verification pass")
    // pass walls keep falling for minutes as the JIT works through the
    // operators' code; a fixed warm-up puts every run at the same point
    (0 until warmPasses).foreach(_ => keys.foreach(op(_, Trace.noop)))
    Trace.mark("warm")
    val windowStartMs = System.currentTimeMillis()

    val listener = new Trace.StageTotals
    val passes = ArrayBuffer[Map[String, Any]]()
    val t0 = System.nanoTime()
    while (passes.size < minPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val traced = a.trace && passes.size % 2 == 1
      if (traced) spark.sparkContext.addSparkListener(listener)
      val ops = keys.map { k =>
        if (!traced) k -> Map("wall_s" -> op(k, Trace.noop))
        else {
          org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
          listener.take()
          var planS = 0.0
          val wall = op(k, df => {
            planS = Trace.timed(df.queryExecution.executedPlan)._2
            Trace.noop(df)
          })
          org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
          k -> Map("wall_s" -> wall, "stats" -> listener.take(), "plan_s" -> planS)
        }
      }.toMap
      if (traced) spark.sparkContext.removeSparkListener(listener)
      passes += Map("traced" -> traced, "ops" -> ops)
    }

    Trace.mark(s"measured ${passes.size} passes")
    val layers = scala.collection.mutable.Map[String, Any]()
    if (a.trace) {
      layers("scan_s") = (0 until 3).map(_ => Trace.timed {
        Trace.noop(Tables.documents(spark, dir))
        Trace.noop(Tables.embeddings(spark, dir))
      }._2)
    }
    java.nio.file.Files.writeString(a.work.resolve("oracle_sql.json"),
      graft.Jsons.obj(SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }))
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Map("setup_s" -> (windowStartMs - jvmStartMs) / 1000.0,
      "families" -> families.toMap, "passes" -> passes.toSeq, "data_dir" -> dir, "out_dir" -> out,
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
      "layers" -> layers.toMap)
  }
}
