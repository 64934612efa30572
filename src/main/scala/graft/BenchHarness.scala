package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.control.NonFatal

/** The ONE bench-session + cold-sample recipe, shared by every graft main
  * that runs a registered query: [[Bench]] (the driver's full-suite run),
  * [[Verify]], [[graft.tools.EntrySmoke]] and every mode of
  * [[graft.tools.Profile]]. One copy, because a tuning that missed a
  * hand-copied builder, warmup or cache drop would silently make
  * single-query timings non-comparable to BENCH_r{N}.json.
  */
object BenchHarness {

  /** local[cpus] session with the bench conf: AQE on,
    * shuffle.partitions=cpus, UTC, ns-as-long parquet reads, and a codegen
    * cache big enough that interleaved samples of 70+ queries don't evict
    * and re-Janino-compile each other (a long-lived cluster job amortizes
    * codegen, so letting later samples reuse compiled classes is the
    * representative measurement; the min still does full scan/shuffle work
    * cold).
    */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // 16384, not the 4096 it started at: the interleaved bench now runs
      // 180+ queries × 3 passes through one session, and crossing the cache
      // limit silently re-Janino-compiles (and re-JITs) early queries on
      // every later pass — the mechanism behind bm25_search's r15
      // "regression" (1.71 s interleaved vs 0.68 s converged-isolated on an
      // unchanged body; reproduced by shrinking this knob, see README perf
      // notes). Compiled classes are small; a 128 GiB driver holds 16k.
      // A static conf: re-test the eviction mechanism by editing this
      // constant, since no running session can change it.
      .config("spark.sql.codegen.cache.maxEntries", "16384")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A count knob of the tools: the environment variable `key`, `default`
    * when unset. A value that is not a positive integer fails naming `key`.
    * `SPARK_GRAFT_CPUS` sets the width of a tool's [[session]] and
    * `SPARK_GRAFT_BENCH_REPS` [[Bench]]'s sample count.
    */
  def envCount(key: String, default: Int, env: Map[String, String] = sys.env): Int =
    env.get(key).fold(default)(v => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"$key must be a positive integer, got '$v'")))

  /** An on/off knob: the environment variable `key`, `default` when unset.
    * Only `0` and `1` are values; anything else fails naming `key`.
    * `SPARK_GRAFT_ANCHOR` turns [[Bench]]'s DuckDB anchor pass on or off.
    */
  def envFlag(key: String, default: Boolean, env: Map[String, String] = sys.env): Boolean =
    env.get(key).fold(default)(v => v.trim match {
      case "1" => true
      case "0" => false
      case _ => throw new IllegalArgumentException(s"$key must be 0 or 1, got '$v'")
    })

  /** A directory knob's value `dir`, read from the environment variable
    * `key`: it must name an existing directory, else this fails naming
    * `key`. `SPARK_GRAFT_SF_DIR` is [[Bench]]'s dataset.
    */
  def requireDir(key: String, dir: String): Unit =
    require(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir)),
      s"$key must name an existing directory, got '$dir'")

  /** [[session]] as wide as `SPARK_GRAFT_CPUS`, `defaultCpus` when unset. */
  def envSession(defaultCpus: Int): SparkSession =
    session(envCount("SPARK_GRAFT_CPUS", defaultCpus).toString)

  /** A registered query by name: [[SparkEntry.queries]] plus the bench-only
    * [[SparkEntry.benchExtras]]. An unknown name fails with the known keys.
    */
  def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, SparkEntry.benchExtras.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query '$name' — keys: " +
        (SparkEntry.queries.keys ++ SparkEntry.benchExtras.keys).toSeq.sorted.mkString(", "))))

  /** Run `df`'s FULL row pipeline into the noop sink — `count()` would let
    * Spark prune payload columns and measure an unrealistically thin plan.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** JIT/codegen warmup outside any timed loop, so the first timed query
    * doesn't absorb session warmup cost. NonFatal only (an OOM must abort
    * the run, not leave a wounded JVM to produce garbage timings), and the
    * suppressed failure is printed — a silent skip makes pass-1 timings
    * quietly absorb the warmup the harness claims to have paid.
    */
  def warmup(spark: SparkSession, sfDir: String): Unit =
    try noop(query("q6_agg")(spark, sfDir))
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] warmup skipped: ${e.getMessage}")
    }

  /** One cold sample of `body`, in seconds. Every sample is a self-contained
    * run: [[Caches.clear]] first, so a query that persists intermediates
    * (LSH paths, localCheckpoint label tables) cannot hand a warm cache to a
    * later one; then `System.gc()`, so the previous sample's garbage is
    * collected outside this sample's timed window (r6 showed trivial
    * unchanged projections inflating ~2.5x from earlier queries' heap
    * pressure; a long-lived cluster job amortizes GC the same way). A
    * FAILED sample returns None and is printed — it must not enter a min,
    * where a query that dies 0.3 s in would report 0.3 s. NonFatal only,
    * the same policy as [[warmup]].
    */
  def sample(spark: SparkSession, name: String)(body: => Unit): Option[Double] = {
    Caches.clear(spark)
    System.gc()
    val t0 = System.nanoTime()
    try { body; Some((System.nanoTime() - t0) / 1e9) }
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] $name failed: ${e.getMessage}")
      None
    }
  }
}
