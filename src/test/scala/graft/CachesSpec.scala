package graft

import org.apache.spark.storage.StorageLevel

/** A library call leaves the caller's cache as it found it: a scoped
  * persist releases its own frame even when the body fails, and never a
  * frame the caller cached.
  */
class CachesSpec extends SparkSpec {

  test("persisted: a body that throws still unpersists its frame") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val e = intercept[IllegalStateException] {
      Caches.persisted(spark.range(0, 100).toDF()) { df =>
        assert(df.count() === 100) // materializes the cache
        assert(spark.sparkContext.getPersistentRDDs.size === before + 1)
        throw new IllegalStateException("write failed mid-epoch")
      }
    }
    assert(e.getMessage.contains("mid-epoch"))
    assert(spark.sparkContext.getPersistentRDDs.size === before)
    // a frame the caller cached is still cached after the body, thrown or not
    val cached = spark.range(0, 50).toDF().persist()
    try {
      assert(cached.count() === 50)
      val held = spark.sparkContext.getPersistentRDDs.size
      intercept[IllegalStateException] {
        Caches.persisted(cached) { df =>
          assert(df.count() === 50)
          throw new IllegalStateException("body failed")
        }
      }
      assert(Caches.persisted(cached)(_.count()) === 50)
      assert(cached.storageLevel.useMemory)
      assert(spark.sparkContext.getPersistentRDDs.size === held)
    } finally { cached.unpersist(); () }
  }

  test("pqCodebooks releases the frame it persisted and keeps the caller's cache") {
    // a copy at a fresh path, so no other spec's cache can hold its plan
    val path = tempDir("caches-emb") + "/embeddings.parquet"
    Tables.embeddings(spark, sf0001).write.parquet(path)
    val emb = spark.read.parquet(path)
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    // storageLevel is the session cache manager's entry for the plan
    assert(emb.storageLevel === StorageLevel.NONE)
    val books = graft.ops.Embeddings.pqCodebooks(emb, m = 4, k = 4)
    assert(books.length === 4)
    assert(spark.sparkContext.getPersistentRDDs.keySet === rddsBefore)
    assert(emb.storageLevel === StorageLevel.NONE, "an uncached input stays uncached")
    val cached = emb.persist()
    try {
      assert(cached.count() > 0)
      val held = spark.sparkContext.getPersistentRDDs.keySet
      assert(graft.ops.Embeddings.pqCodebooks(cached, m = 4, k = 4).map(_.map(_.toSeq).toSeq)
        .toSeq === books.map(_.map(_.toSeq).toSeq).toSeq)
      assert(cached.storageLevel.useMemory, "the caller's cache survives")
      assert(spark.sparkContext.getPersistentRDDs.keySet === held)
    } finally { cached.unpersist(); () }
  }
}
