package graft

import graft.streaming.Epochs
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The one epoch contract every stream writes through: a replayed epoch
  * replaces its own partition and nothing else, an empty stateful epoch
  * writes nothing, a failed or crashed write leaves the committed epoch
  * as it was, the files and errors are a plain Spark write's, and a
  * cached batch is released even when its write fails.
  */
class EpochsSpec extends SparkSpec {

  private def ids(dir: String, epoch: Long): Set[Long] =
    spark.read.parquet(dir).where(s"epoch = $epoch")
      .select("id").collect().map(_.getLong(0)).toSet

  private def names(dir: String): Set[String] =
    Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString).toSet

  test("overwrite: replaying epoch 1 replaces only epoch 1's rows") {
    val dir = tempDir("epochs") + "/out"
    Epochs.overwrite(spark.range(0, 5).toDF(), 0L, dir)
    Epochs.overwrite(spark.range(10, 15).toDF(), 1L, dir)
    Epochs.overwrite(spark.range(20, 23).toDF(), 1L, dir)
    assert(ids(dir, 1L) === (20L until 23L).toSet, "the replay's rows, and only those")
    assert(ids(dir, 0L) === (0L until 5L).toSet, "the other epoch is untouched")
  }

  test("overwriteNonEmpty: an empty first epoch leaves the directory absent") {
    val base = tempDir("epochs")
    val empty = spark.range(0).toDF()
    Epochs.overwriteNonEmpty(empty, 0L, s"$base/probed")
    assert(!Files.exists(Paths.get(s"$base/probed")))
    // why the probe exists: a plain empty partitioned write leaves a
    // directory with no data files, which schema inference rejects
    Epochs.overwrite(empty, 0L, s"$base/plain")
    assert(names(s"$base/plain").isEmpty)
    val e = intercept[AnalysisException](spark.read.parquet(s"$base/plain"))
    assert(e.getMessage.contains("UNABLE_TO_INFER_SCHEMA"))
    Epochs.overwriteNonEmpty(spark.range(0, 3).toDF(), 1L, s"$base/probed")
    assert(ids(s"$base/probed", 1L) === Set(0L, 1L, 2L))
  }

  test("overwrite: a write whose task throws leaves the committed epoch and no staging dir") {
    val dir = tempDir("epochs") + "/out"
    Epochs.overwrite(spark.range(0, 5).toDF(), 1L, dir)
    val failing = spark.range(10, 15, 1, 1).select(expr("if(id = 13, raise_error('boom'), id)").as("id"))
    val e = intercept[Exception](Epochs.overwrite(failing, 1L, dir))
    assert(e.getMessage.contains("boom"), e.getMessage)
    assert(ids(dir, 1L) === (0L until 5L).toSet)
    assert(names(dir) === Set("epoch=1"))
  }

  test("overwrite: a staging dir left by a crash is invisible, and the epoch's next write deletes it") {
    val base = tempDir("epochs")
    val dir = s"$base/out"
    Epochs.overwrite(spark.range(0, 5).toDF(), 0L, dir)
    // a crash between staging and rename: a complete part file, never published
    val orphan = s"$dir/.staging-epoch-1/x"
    spark.range(100, 103, 1, 1).toDF().write.parquet(s"$base/orphan")
    Files.createDirectories(Paths.get(orphan))
    Files.list(Paths.get(s"$base/orphan")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(f => Files.copy(f, Paths.get(orphan, "part-00000-x.c000.snappy.parquet")))
    assert(spark.read.parquet(dir).select("id").collect().map(_.getLong(0)).toSet === (0L until 5L).toSet)
    val schema = new StructType().add("id", LongType).add("epoch", LongType)
    assert(Epochs.history(spark, dir, schema, 2L).count() === 5)
    Epochs.overwrite(spark.range(10, 12).toDF(), 1L, dir)
    assert(names(dir) === Set("epoch=0", "epoch=1"))
    assert(ids(dir, 1L) === Set(10L, 11L))
  }

  test("overwrite: a batch's own partition column is dropped from the files and reads back as the epoch") {
    val dir = tempDir("epochs") + "/out"
    Epochs.overwrite(spark.range(0, 3).withColumn("epoch", lit(99L)), 3L, dir)
    assert(spark.read.parquet(s"$dir/epoch=3").columns.toSeq === Seq("id"))
    assert(spark.read.parquet(dir).select("epoch").distinct().collect().map(_.getInt(0)).toSeq === Seq(3))
    assert(ids(dir, 3L) === Set(0L, 1L, 2L))
  }

  test("overwrite: an unsupported type or a duplicate column fails as a plain parquet write does") {
    def condition(write: => Unit): String = intercept[AnalysisException](write).getCondition
    val bad: Seq[(DataFrame, String)] = Seq(
      spark.range(1).select(col("id"), col("id")) -> "COLUMN_ALREADY_EXISTS",
      spark.range(1).select(col("id"), col("id").as("ID")) -> "COLUMN_ALREADY_EXISTS",
      spark.range(1).select(col("id"), expr("make_interval(0, 0, 0, 1)").as("i")) ->
        "UNSUPPORTED_DATA_TYPE_FOR_DATASOURCE")
    for ((df, expected) <- bad) {
      val base = tempDir("epochs")
      assert(condition(df.write.parquet(s"$base/plain")) === expected, df.schema)
      assert(condition(Epochs.overwrite(df, 0L, s"$base/graft")) === expected, df.schema)
      assert(!Files.exists(Paths.get(s"$base/graft")), df.schema)
    }
  }

  test("persisted: a body that throws still unpersists its frame") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val e = intercept[IllegalStateException] {
      Epochs.persisted(spark.range(0, 100).toDF()) { df =>
        assert(df.count() === 100) // materializes the cache
        assert(spark.sparkContext.getPersistentRDDs.size === before + 1)
        throw new IllegalStateException("write failed mid-epoch")
      }
    }
    assert(e.getMessage.contains("mid-epoch"))
    assert(spark.sparkContext.getPersistentRDDs.size === before)
  }
}
