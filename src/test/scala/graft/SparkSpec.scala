package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session keeps the suite
  * fast; tests only ever read, or write under their own temp dirs).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"

  /** Two feed lines that are not events: one that does not parse, and one
    * with an `event_id` but no `user_id`.
    */
  val notEventLines: Seq[String] = Seq("poison",
    """{"event_id":999,"ts_us":1704067200000000,"event_type":"click","value":1.5,"props":"{}"}""")
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sf0001: String = SparkSpec.sf0001
  def notEventLines: Seq[String] = SparkSpec.notEventLines
  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
