package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.tools.Profile

/** Pins the profiling tool's output contract on the suite session: the
  * mode functions are called directly (its `main` builds a bench session,
  * and the codegen-cache size in that recipe is a static conf a running
  * session cannot take).
  */
class ProfileSpec extends SparkSpec {

  private val json = new ObjectMapper()

  test("time: one JSON line of positive min walls, ann_ivf_probe answered from an untimed build") {
    val lines = Profile.time(spark, Seq(sf0001, "1", "q6_agg", "ann_ivf_probe"))
    val walls = json.readTree(lines.head).path("walls")
    for (q <- Seq("q6_agg", "ann_ivf_probe"))
      assert(walls.path(q).asDouble(-1) > 0, s"$q wall in ${lines.head}")
    assert(json.readTree(lines.head).path("reps").asInt() === 1)
  }

  test("time: semantic_dedup emits the oracle override at the corpus-derived cell count") {
    val lines = Profile.time(spark, Seq(sf0001, "1", "semantic_dedup"))
    val cells = ops.Similarity.semanticCells(Tables.embeddings(spark, sf0001).count())
    val ov = lines.map(json.readTree).find(_.has("oracle_sql_overrides"))
      .getOrElse(fail(s"no override line in $lines"))
    assert(ov.path("derived_cells").asInt() === cells)
    assert(ov.path("oracle_sql_overrides").path("semantic_dedup").asText() ===
      SparkEntry.semanticDedupSql(cells))
  }

  test("plan: a deferred builder prints its inner physical plan, not the bare leaf") {
    val text = Profile.plan(spark, Seq(sf0001, "dup_clusters")).mkString("\n")
    assert(text.contains("== Physical Plan =="), text)
    assert(!text.contains("DeferredExec"), text)
    assert(text.contains("Exchange"), text)
  }

  test("jobs: lists only the query's own jobs, none another thread runs meanwhile") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val intruderJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val recorder = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { intruderJobs.add(e.jobId); () }
    }
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val running = new java.util.concurrent.CountDownLatch(1)
    // a second client on the session: small jobs in its own job group for
    // the whole of the profiled run
    val intruder = new Thread(() => OwnJobs.observe(spark, recorder) {
      while (!stop.get()) {
        spark.range(1000).selectExpr("sum(id)").collect()
        running.countDown()
      }
    })
    intruder.start()
    val lines = try {
      assert(running.await(60, java.util.concurrent.TimeUnit.SECONDS))
      Profile.jobs(spark, Seq(sf0001, "q6_agg"))
    } finally { stop.set(true); intruder.join(60000) }
    val listed = lines.flatMap(l => "job +(\\d+)".r.findFirstMatchIn(l).map(_.group(1).toInt))
    assert(listed.nonEmpty, lines.mkString("\n"))
    assert(intruderJobs.size > 1, "the second thread must have run jobs meanwhile")
    val leaked = listed.filter(intruderJobs.contains)
    assert(leaked.isEmpty, s"another thread's jobs listed: $leaked\n${lines.mkString("\n")}")
  }

  test("an unknown query name fails with a message naming it") {
    for (mode <- Seq("time", "jobs", "plan")) {
      val args = if (mode == "time") Seq(sf0001, "1", "no_such_query") else Seq(sf0001, "no_such_query")
      val e = intercept[IllegalArgumentException](Profile.modes(mode)(spark, args))
      assert(e.getMessage.contains("no_such_query") && e.getMessage.contains("q6_agg"),
        s"$mode: ${e.getMessage}")
    }
  }

  test("a CPU or rep knob keeps its default when unset and fails naming its key on a bad value") {
    assert(BenchHarness.envCount("SPARK_GRAFT_CPUS", 32, Map.empty) === 32)
    assert(BenchHarness.envCount("SPARK_GRAFT_BENCH_REPS", 3, Map("SPARK_GRAFT_BENCH_REPS" -> " 5 ")) === 5)
    for (bad <- Seq("0", "-2", "four", "", "1.5")) {
      val e = intercept[IllegalArgumentException](
        BenchHarness.envCount("SPARK_GRAFT_CPUS", 4, Map("SPARK_GRAFT_CPUS" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
    assert(BenchHarness.envFlag("SPARK_GRAFT_ANCHOR", default = true, Map.empty))
    assert(!BenchHarness.envFlag("SPARK_GRAFT_ANCHOR", default = true, Map("SPARK_GRAFT_ANCHOR" -> "0")))
    for (bad <- Seq("2", "yes", "", "true")) {
      val e = intercept[IllegalArgumentException](
        BenchHarness.envFlag("SPARK_GRAFT_ANCHOR", default = true, Map("SPARK_GRAFT_ANCHOR" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_ANCHOR") && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
    BenchHarness.requireDir("SPARK_GRAFT_SF_DIR", sf0001)
    val file = java.nio.file.Files.createTempFile("no_sf", ".parquet").toString
    for (bad <- Seq(tempDir("no_sf") + "/absent", file)) {
      val e = intercept[IllegalArgumentException](BenchHarness.requireDir("SPARK_GRAFT_SF_DIR", bad))
      assert(e.getMessage.contains("SPARK_GRAFT_SF_DIR") && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("floor: the AQE and shuffle-partition flips leave the session's conf as it was") {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val before = keys.map(spark.conf.get)
    val line = Profile.floor(spark, Seq(sf0001, "1")).head
    val probe = json.readTree(line).path("floor_probe")
    assert(probe.size() === 10 && probe.path("scan_groupby_p8").asDouble(-1) > 0 &&
      probe.path("table_load").asDouble(-1) > 0 && probe.path("epoch_write").asDouble(-1) > 0 &&
      probe.path("merge_epoch").asDouble(-1) > 0, line)
    assert(keys.map(spark.conf.get) === before)
  }
}
