package graft

import graft.streaming.Epochs
import org.apache.spark.sql.AnalysisException

import java.nio.file.{Files, Paths}

/** The one epoch contract every stream writes through: a replayed epoch
  * replaces its own partition and nothing else, an empty stateful epoch
  * writes nothing, and a cached batch is released even when its write
  * fails.
  */
class EpochsSpec extends SparkSpec {

  private def ids(dir: String, epoch: Long): Set[Long] =
    spark.read.parquet(dir).where(s"epoch = $epoch")
      .select("id").collect().map(_.getLong(0)).toSet

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
    val e = intercept[AnalysisException](spark.read.parquet(s"$base/plain"))
    assert(e.getMessage.contains("UNABLE_TO_INFER_SCHEMA"))
    Epochs.overwriteNonEmpty(spark.range(0, 3).toDF(), 1L, s"$base/probed")
    assert(ids(s"$base/probed", 1L) === Set(0L, 1L, 2L))
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
