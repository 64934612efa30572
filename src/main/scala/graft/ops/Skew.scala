package graft.ops

import graft.Caches
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-handling join utilities (SURVEY.md §4: "skewed keys → salting or AQE
  * skew-join").
  *
  * AQE's skew-join split handles most cases at runtime; salting is the
  * explicit tool for the pathological hot key (one user/session/null-bucket
  * holding a double-digit share of a 100 TB fact table), where even a split
  * partition pins a single join key to a single task.
  */
object Skew {

  /** Salted equi-join: the skewed (big) side gets a random salt in
    * [0, saltBuckets); the small/replicable side is exploded ×saltBuckets so
    * every (key, salt) pair finds its match. The hot key's rows now spread
    * over `saltBuckets` tasks. Semantics are exactly `big JOIN small USING
    * (key)` for inner joins.
    *
    * The salt is seeded rand(), NOT a content fingerprint: a fingerprint
    * sends byte-identical rows to ONE bucket, and a hot key with a
    * constant payload (the classic null-bucket/enum case — exactly what
    * salting exists for) would not spread at all. rand(seed) draws a
    * per-partition deterministic sequence, so every row gets an
    * independent bucket regardless of content, and the join result is
    * salt-agnostic (any assignment is correct — the small side carries
    * every salt).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 saltBuckets: Int = 16): DataFrame = {
    val bigSalted = big.withColumn("_salt",
      floor(rand(42) * saltBuckets).cast("int"))
    val smallExploded = small.withColumn("_salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    bigSalted.join(smallExploded, Seq(key, "_salt")).drop("_salt")
  }

  /** Per-task load report for the heaviest shuffle-read stage of one job:
    * the direct observable for "did the skew mitigation actually spread
    * the hot key", where wall clock alone can hide a straggler behind
    * parallel slack.
    */
  final case class StageLoad(stageId: Int, nTasks: Int, maxRecords: Long,
                             meanRecords: Double, wallSec: Double) {
    /** max/mean per-task shuffle-read records — 1.0 is perfectly even;
      * an unmitigated 90%-one-key join reads ≥ 10×.
      */
    def imbalance: Double = if (meanRecords > 0) maxRecords / meanRecords else 1.0
  }

  /** Run `job` and report the per-task shuffle-read distribution of its
    * heaviest stage (by total records read — for an equi-join that is the
    * join stage reading both shuffled sides). Measurement harness for the
    * skew evidence in ScaleSpec / CROSSOVER.json; diagnostic-grade like
    * [[keySkew]], not a hot-path helper.
    *
    * The measurement is scoped to `job`'s OWN jobs by [[graft.OwnJobs]]
    * (r15, ADVICE r14), which also drains the listener bus before the
    * counters are read — a concurrent job on the same session (a
    * streaming trigger, another thread's query) cannot pollute the
    * heaviest-stage pick. A stage RETRY within the measured job still
    * merges its attempts into one stageId entry;
    * retried tasks inflate nTasks/mean slightly, which is the
    * conservative direction for an imbalance read (documented, not
    * filtered — a diagnostic should not hide that a stage retried).
    */
  def stageLoadOf(spark: SparkSession)(job: => Unit): StageLoad = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val byStage =
      new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          byStage.computeIfAbsent(t.stageId,
            _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
            .add(m.shuffleReadMetrics.recordsRead)
        }
      }
    }
    val wall = graft.OwnJobs.observe(spark, listener) {
      val t0 = System.nanoTime()
      job
      (System.nanoTime() - t0) / 1e9
    }
    import scala.jdk.CollectionConverters._
    val stages = byStage.asScala.map { case (sid, q) =>
      (sid, q.asScala.toSeq)
    }
    require(stages.nonEmpty, "no task metrics observed — job ran no stages")
    val (sid, xs) = stages.maxBy(_._2.sum)
    StageLoad(sid, xs.size, xs.max, xs.sum.toDouble / xs.size, wall)
  }

  /** Skew diagnosis: per-key row share of the top keys — the check that
    * decides between plain shuffle, AQE, and salting.
    */
  def keySkew(df: DataFrame, key: Column, topN: Int = 10): DataFrame = {
    // ONE scan of the raw input: the per-key counts persist and the
    // denominator is a scalar aggregate over that (much smaller) keyed
    // table — df.count() was a second full pass of the fact table just for
    // the total. Eager scalar fetch is fine in a diagnostic tool, and the
    // whole result is materialized eagerly too (bounded: topN rows) so the
    // persisted counts can be RELEASED here instead of squatting in the
    // block manager until someone clears caches — this is a diagnostic
    // run occasionally inside long-lived sessions, the exact caller that
    // least expects a cache residue.
    Caches.persisted(df.groupBy(key.as("key")).agg(count(lit(1)).as("rows"))) { counts =>
      val totalRow = counts.agg(sum(col("rows"))).first()
      val total = if (totalRow.isNullAt(0)) 1.0 else totalRow.getLong(0).toDouble
      val out = counts
        .withColumn("share", round(col("rows") / total, 4))
        .orderBy(col("rows").desc)
        .limit(topN)
      val rows = java.util.Arrays.asList(out.collect(): _*)
      df.sparkSession.createDataFrame(rows, out.schema)
    }
  }
}
