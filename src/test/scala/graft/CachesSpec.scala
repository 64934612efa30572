package graft

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
}
