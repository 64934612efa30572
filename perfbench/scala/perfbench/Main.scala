package perfbench

import java.nio.file.{Files, Path, Paths}

/** Arguments of one benchmark process. `work` is a scratch directory inside
  * the checkout; `config` is the daemon's sample config.
  */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: Path, out: Path, config: Path)

/** One benchmark process: start the session, run one workload, write its raw
  * measurements as JSON to `--out`. `perfbench/run.py` turns them into
  * metrics and prints the result line.
  *
  *   perfbench.Main --workload <connector|curation> --seed <n>
  *                  --seconds <s> --trace <0|1> --work <dir> --out <file>
  *                  --config <yaml>
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      Paths.get(kv("work")), Paths.get(kv("out")), Paths.get(kv("config")))
    Files.createDirectories(a.work)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = graft.BenchHarness.session(cpus)
    Trace.mark("session")
    val raw = try a.workload match {
      case "connector" => Streams.connector(spark, a)
      case "curation" => Curation.run(spark, a)
      case other => sys.error(s"unknown workload $other")
    } finally spark.stop()
    Trace.mark("stopped")
    Files.writeString(a.out, Json(raw ++ Map("jvm_start_ms" -> jvmStartMs, "cpus" -> cpus.toInt,
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace)))
  }
}
