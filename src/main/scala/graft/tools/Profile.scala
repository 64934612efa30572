package graft.tools

import graft.{BenchHarness, Jsons, OwnJobs, SparkEntry, Tables}
import graft.BenchHarness.{noop, query, sample}
import graft.ops.Skew
import graft.streaming.Epochs
import org.apache.hadoop.fs.FileUtil
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

/** The one way to run, time and inspect registered queries outside the full
  * bench. Every mode runs on the [[BenchHarness]] session and takes its
  * samples with [[BenchHarness.sample]] (caches dropped, GC, then the wall),
  * so its numbers are comparable to BENCH_r{N}.json entries:
  *
  *   runMain graft.tools.Profile time  <dir> <reps> <query> [query...]
  *   runMain graft.tools.Profile jobs  <dir> <query>
  *   runMain graft.tools.Profile plan  <dir> [query...]
  *   runMain graft.tools.Profile floor <dir> [reps]
  *   runMain graft.tools.Profile skew  [nBig] [nOther] [saltBuckets]
  *
  * Each mode is a function of the session and its arguments that returns
  * the lines to print, so specs drive it on their own session.
  */
object Profile {
  val modes: Map[String, (SparkSession, Seq[String]) => Seq[String]] =
    Map("time" -> time, "jobs" -> jobs, "plan" -> plan, "floor" -> floor, "skew" -> skew)

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.flatMap(modes.get).getOrElse(sys.error(
      s"usage: Profile <${modes.keys.toSeq.sorted.mkString("|")}> args... (see the scaladoc)"))
    val spark = BenchHarness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    try mode(spark, args.toSeq.tail).foreach(println) finally spark.stop()
  }

  /** Min-of-`reps` walls of the named queries on any data dir (the bench
    * tables or the crossover corpus from [[CrossoverGen]]), as one JSON line
    * `{"walls":{...},"dir":...,"reps":...}`; per-rep walls go to stderr.
    * Protocol: one untimed pass of each query (JIT/codegen warmup that needs
    * no bench table), then `reps` interleaved passes, so a host stall lands
    * on different queries each pass and the min discards it. A query with
    * no successful sample fails the run.
    */
  def time(spark: SparkSession, args: Seq[String]): Seq[String] = {
    require(args.length >= 3, "usage: Profile time <dir> <reps> <query> [query...]")
    val dir = args(0)
    val reps = args(1).toInt
    val fns = args.drop(2).map(n => n -> query(n))
    // The probe-only entry answers from an index a prior build wrote; in
    // graft.Bench that's the same pass's ann_ivf_build (name order). A
    // fresh JVM has no index yet — build one, untimed.
    if (fns.exists(_._1 == "ann_ivf_probe")) noop(query("ann_ivf_build")(spark, dir))
    val best = scala.collection.mutable.Map.empty[String, Double]
    for (rep <- 0 to reps; (name, fn) <- fns) {
      val secs = sample(spark, name)(noop(fn(spark, dir)))
      if (rep > 0) secs.foreach { s => // rep 0 is the untimed warmup pass
        System.err.println(s"[profile] $name rep $rep: ${Jsons.num(s)} s")
        best(name) = math.min(best.getOrElse(name, Double.MaxValue), s)
      }
    }
    val failed = fns.map(_._1).filterNot(best.contains)
    require(failed.isEmpty, s"no successful sample: ${failed.mkString(", ")}")
    val walls = s"""{"walls":${Jsons.nums(fns.map { case (n, _) => n -> best(n) })},"dir":${Jsons.quote(dir)},"reps":$reps}"""
    // semantic_dedup's registered query DERIVES its cluster count from the
    // corpus (C = max(16, n/1000) — SemDeDup's own C ∝ n knob), so the
    // sf-pinned cells=16 oracle in oracle_sql.json replays the WRONG
    // configuration at crossover scale. Emit a matching-C oracle override
    // for crossover.py to merge before its DuckDB pass — both engines then
    // run the same clustering.
    val overrides = if (!fns.exists(_._1 == "semantic_dedup")) Nil else {
      val cells = graft.ops.Similarity.semanticCells(graft.Tables.embeddings(spark, dir).count())
      val sql = Jsons.quote(SparkEntry.semanticDedupSql(cells))
      Seq(s"""{"oracle_sql_overrides":{"semantic_dedup":$sql},"derived_cells":$cells}""")
    }
    walls +: overrides
  }

  /** Every Spark job one query launches (id, wall, #stages, first stage
    * name) and the query's total wall — the tool for hunting fixed per-job
    * overhead in multi-action operators. One warm pass first, so JIT and
    * codegen don't masquerade as job cost. Only the query's own jobs are
    * listed ([[graft.OwnJobs]]): another thread's jobs on the session are
    * not.
    */
  def jobs(spark: SparkSession, args: Seq[String]): Seq[String] = {
    require(args.length == 2, "usage: Profile jobs <dir> <query>")
    val Seq(dir, name) = args
    val fn = query(name)
    sample(spark, name)(noop(fn(spark, dir)))
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, String)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.put(js.jobId, (js.time, js.stageInfos.length,
          js.stageInfos.headOption.map(_.name).getOrElse("?")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val (t0, nStages, stage) = starts.getOrDefault(je.jobId, (je.time, -1, "?"))
        lines.add(f"[jobs] job ${je.jobId}%3d ${(je.time - t0) / 1000.0}%6.3f s  stages=$nStages%2d  $stage")
      }
    }
    val total = OwnJobs.observe(spark, listener)(sample(spark, name)(noop(fn(spark, dir))))
      .getOrElse(sys.error(s"$name failed"))
    import scala.jdk.CollectionConverters._
    lines.asScala.toSeq :+ f"[jobs] TOTAL $total%.3f s, ${lines.size} jobs"
  }

  /** `explain("formatted")` of each named query, or of every registered one
    * with no names. A deferred builder is explained through the INNER plan
    * its thunk executes, not as a bare leaf.
    */
  def plan(spark: SparkSession, args: Seq[String]): Seq[String] = {
    require(args.nonEmpty, "usage: Profile plan <dir> [query...]")
    val dir = args.head
    val names = if (args.length > 1) args.tail else SparkEntry.queries.keys.toSeq.sorted
    names.map(n => n -> query(n)).flatMap { case (name, fn) =>
      val text = try {
        val df = fn(spark, dir)
        (df.queryExecution.logical match {
          case graft.plans.DeferredRelation(_, thunk) => thunk()
          case _ => df
        }).queryExecution.explainString(FormattedMode)
      } catch { case NonFatal(e) => s"[plan] $name failed: ${e.getMessage}" }
      Seq(s"\n========== $name ==========", text)
    }
  }

  /** Decompose the per-query job floor the bench pays on every sub-second
    * family (r15, VERDICT r14 #8): most registered queries finish under a
    * second at sf0.1 and their summed wall is dominated by per-query session
    * fixed costs, not engine work — this probe measures WHAT those fixed
    * costs are, under the exact bench session recipe. Min over `reps`
    * samples (default 5) of:
    *   plan_only        analyze+optimize+physical-plan a scan+groupBy, no job
    *   table_load       a warm Tables.documents resolution, no action (the
    *                    memoized schema and spread decision; compare with
    *                    plan_only, whose raw spark.read.parquet infers)
    *   job_1task        spark.range(1) noop write — irreducible job launch
    *   job_32task       one 32-partition stage, trivial rows — task dispatch
    *   scan_noop        parquet scan → noop, no shuffle
    *   scan_groupby     scan → shuffle → tiny agg (the floor shape of most
    *                    sub-second families)
    *   scan_groupby_noaqe  same with AQE off (isolates AQE's re-plan cost)
    *   scan_groupby_p8  same with shuffle.partitions=8 (task-count term)
    *   epoch_write      one 2,000-row, 4-task Epochs.overwrite into a temp
    *                    local dir (the connector's per-epoch sink write:
    *                    four parquet writers under one broadcast job conf,
    *                    then one rename of the epoch's staging dir)
    * as one JSON line {"floor_probe":{...}} — numbers recorded in SURVEY
    * §6's floor note.
    */
  def floor(spark: SparkSession, args: Seq[String]): Seq[String] = {
    require(args.length == 1 || args.length == 2, "usage: Profile floor <dir> [reps]")
    val dir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 5
    BenchHarness.warmup(spark, dir)
    def probe(tag: String)(body: => Unit): (String, Double) =
      tag -> (1 to reps).flatMap(_ => sample(spark, tag)(body)).minOption
        .getOrElse(sys.error(s"floor probe $tag: no successful sample"))
    def groupbyDf = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy("lang").agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
    val epochDir = java.nio.file.Files.createTempDirectory("graft-epoch-probe")
    val epochBatch = spark.range(0, 2000, 1, 4)
      .select(col("id"), sha2(col("id").cast("string"), 256).as("doc"))
    val out = try Seq(
      probe("plan_only") {
        // force full analysis+optimization+physical planning, no execution;
        // a fresh plan each sample (the lit defeats plan-cache hits)
        groupbyDf.where(lit(System.nanoTime()) > 0).queryExecution.executedPlan
        ()
      },
      probe("table_load") { Tables.documents(spark, dir); () },
      probe("job_1task")(noop(spark.range(1).toDF())),
      probe("job_32task")(noop(spark.range(0, 32, 1, 32).toDF())),
      probe("scan_noop")(noop(spark.read.parquet(s"$dir/documents.parquet"))),
      probe("scan_groupby")(noop(groupbyDf)),
      withConf(spark, "spark.sql.adaptive.enabled" -> "false")(
        probe("scan_groupby_noaqe")(noop(groupbyDf))),
      withConf(spark, "spark.sql.shuffle.partitions" -> "8")(
        probe("scan_groupby_p8")(noop(groupbyDf))),
      // every sample after the first replays epoch 0, as a restart would
      probe("epoch_write")(Epochs.overwrite(epochBatch, 0L, s"$epochDir/out")))
    finally FileUtil.fullyDelete(epochDir.toFile)
    Seq(s"""{"floor_probe":${Jsons.nums(out)},"sf":${Jsons.quote(dir)},"reps":$reps}""")
  }

  /** Skew-join evidence probe (SURVEY D7): a synthetic fact-fact equi-join
    * with 90% of the probe side on ONE key, measured three ways —
    *
    *  - `unsplit`: sort-merge join with AQE's skew handling OFF — the
    *    baseline proving the hot key really does pin one task;
    *  - `aqe`: AQE skew-split ON (thresholds lowered to act at probe scale;
    *    production defaults split at 256 MB partitions — same mechanism,
    *    bigger granules);
    *  - `salted`: [[Skew.saltedJoin]] — spreads the hot key over
    *    `saltBuckets` tasks at the cost of replicating the OTHER side
    *    ×saltBuckets through the shuffle (the documented trade vs AQE's
    *    free runtime split; salting remains the tool when even one split
    *    granule of a single key overwhelms a task, or the engine's split
    *    cannot apply — e.g. aggregations keyed on the hot key).
    *
    * Reports per-task shuffle-read max/mean for the heaviest stage of each
    * run ([[Skew.stageLoadOf]]) plus walls, as one JSON line for splicing
    * into CROSSOVER.json.
    */
  def skew(spark: SparkSession, args: Seq[String]): Seq[String] = {
    val nBig = if (args.length > 0) args(0).toLong else 20000000L
    val nOther = if (args.length > 1) args(1).toLong else 2000000L
    val salt = if (args.length > 2) args(2).toInt else 32
    val nKeys = 100000L

    // 90% of `a` on key 0; the rest uniform over 1..nKeys. `b` uniform over
    // 0..nKeys — a couple of rows per key, fact-shaped on both sides (the
    // hot key must NOT be hot on b too, or the join output itself explodes
    // quadratically — that is a data-model bug, not a partitioning one).
    def a = spark.range(nBig).select(
      when(col("id") % 10 < 9, lit(0L))
        .otherwise(pmod(hash(col("id")), lit(nKeys)).cast("long") + 1L).as("key"),
      col("id").as("pa"))
    def b = spark.range(nOther).select(
      (col("id") % (nKeys + 1L)).as("key"), col("id").as("pb"))

    def run(tag: String, skewJoin: Boolean)(mk: => DataFrame): (String, Skew.StageLoad, String) =
      withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.enabled" -> skewJoin.toString,
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4m",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
        var row: org.apache.spark.sql.Row = null
        val load = Skew.stageLoadOf(spark) {
          row = mk.agg(count(lit(1)).as("n"), sum(col("pa")).as("sa"), sum(col("pb")).as("sb"))
            .collect().head
        }
        (tag, load, row.toString)
      }

    val results = Seq(
      run("unsplit", skewJoin = false)(a.join(b, "key")),
      run("aqe", skewJoin = true)(a.join(b, "key")),
      run("salted", skewJoin = false)(Skew.saltedJoin(a, b, "key", salt)))
    require(results.map(_._3).distinct.size == 1,
      s"strategies disagree on the join result: $results")
    val progress = results.map { case (t, l, row) =>
      f"[skew] $t: imbalance=${l.imbalance}%.2f tasks=${l.nTasks} " +
        f"max=${l.maxRecords} mean=${l.meanRecords}%.0f wall=${l.wallSec}%.2f agg=$row"
    }
    val j = results.map { case (t, l, _) =>
      s""""$t":{"imbalance":${Jsons.num(l.imbalance)},"tasks":${l.nTasks},"max_records":${l.maxRecords},"mean_records":${Jsons.num(l.meanRecords)},"wall_sec":${Jsons.num(l.wallSec)}}"""
    }.mkString(",")
    progress :+ s"""{"skew_probe":{$j},"n_big":$nBig,"n_other":$nOther,"salt_buckets":$salt}"""
  }

  /** Run `body` with session confs set, restoring each prior value (or its
    * absence) afterwards, also when `body` throws.
    */
  private def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
