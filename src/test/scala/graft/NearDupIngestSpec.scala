package graft

import graft.streaming.NearDupIngest
import org.apache.spark.sql.streaming.Trigger

/** B20c — streaming incremental NEAR-dup ingest: a re-crawl that changed a
  * token must be suppressed by the persistent LSH index (exact hashes
  * can't), the index must accumulate across restarts, epoch replay must be
  * idempotent, and the documented non-transitivity (threshold chaining)
  * must hold rather than silently over-delete.
  */
class NearDupIngestSpec extends SparkSpec {

  private def writeBatch(dir: String, name: String, docs: Seq[(Long, String)]): Unit = {
    val lines = docs.map { case (id, text) =>
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s"}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$name.json"),
      lines.mkString("\n").getBytes("UTF-8"))
  }

  private def words(from: Int, until: Int) = (from until until).map(i => s"w$i").mkString(" ")

  test("near-dup ingest: history suppresses a one-token re-crawl; in-batch star drop; index accumulates; replay idempotent") {
    val src = tempDir("nd-src"); val out = tempDir("nd-out")
    val sig = tempDir("nd-sig") + "/sig"; val band = tempDir("nd-band") + "/band"
    val cp = tempDir("nd-cp")
    val t1 = words(0, 40)
    val t2 = (0 until 40).map(i => s"x$i").mkString(" ")
    // batch 1: two distinct docs
    writeBatch(src, "b1", Seq(1L -> t1, 2L -> t2))
    NearDupIngest.start(spark, src, out, sig, band, cp,
      trigger = Trigger.AvailableNow()).awaitTermination()
    assert(spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L))

    // batch 2 after restart: a one-token edit of t1 (exact dedup would MISS
    // it), an exact t1 repeat, a new text, and an in-batch near-dup of it
    val t1edit = t1.replace("w20", "EDITED")
    val t3 = (0 until 40).map(i => s"y$i").mkString(" ")
    val t3edit = t3.replace("y7", "CHANGED")
    writeBatch(src, "b2", Seq(4L -> t1edit, 5L -> t1, 6L -> t3, 7L -> t3edit))
    NearDupIngest.start(spark, src, out, sig, band, cp,
      trigger = Trigger.AvailableNow()).awaitTermination()
    assert(spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 6L),
      "the edited re-crawl and exact repeat must fall to the index; the in-batch near-dup to the star")

    // index holds exactly the survivors: 3 signatures, 3*bands band rows
    assert(spark.read.parquet(sig).select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 6L))
    assert(spark.read.parquet(band).count() === 3L * 16L)

    // replay with no new input changes nothing
    NearDupIngest.start(spark, src, out, sig, band, cp,
      trigger = Trigger.AvailableNow()).awaitTermination()
    assert(spark.read.parquet(out).count() === 3)
    assert(spark.read.parquet(sig).count() === 3)
  }

  test("threshold chaining is the documented semantics: B falls to A, then C (near B, far from A) is admitted") {
    val src = tempDir("ndc-src"); val out = tempDir("ndc-out")
    val sig = tempDir("ndc-sig") + "/sig"; val band = tempDir("ndc-band") + "/band"
    val cp = tempDir("ndc-cp")
    // sliding 60-token windows over one token stream: adjacent windows are
    // ~0.6 Jaccard (above threshold), the outer pair ~0.35 (below)
    val a = words(0, 60); val b = words(14, 74); val c = words(28, 88)
    writeBatch(src, "b1", Seq(1L -> a))
    NearDupIngest.start(spark, src, out, sig, band, cp,
      trigger = Trigger.AvailableNow()).awaitTermination()
    writeBatch(src, "b2", Seq(2L -> b))
    NearDupIngest.start(spark, src, out, sig, band, cp,
      trigger = Trigger.AvailableNow()).awaitTermination()
    assert(spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L), "B is near A and must fall to the index")
    writeBatch(src, "b3", Seq(3L -> c))
    NearDupIngest.start(spark, src, out, sig, band, cp,
      trigger = Trigger.AvailableNow()).awaitTermination()
    assert(spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 3L),
      "C is near the DROPPED B but far from the surviving A: admitted — " +
        "suppression is against survivors, not against everything ever seen")
  }

  test("band index keys are the batch operator's band columns: one key format at 64/16") {
    val s = spark
    import s.implicits._
    val src = tempDir("ndk-src"); val out = tempDir("ndk-out")
    val sig = tempDir("ndk-sig") + "/sig"; val band = tempDir("ndk-band") + "/band"
    val cp = tempDir("ndk-cp"); val dir = tempDir("ndk-docs")
    val docs = Seq(1L -> words(0, 40), 2L -> (0 until 40).map(i => s"x$i").mkString(" "),
      3L -> (0 until 25).map(i => s"y$i").mkString(" "))
    writeBatch(src, "b1", docs)
    NearDupIngest.start(spark, src, out, sig, band, cp, numHashes = 64, bands = 16,
      trigger = Trigger.AvailableNow()).awaitTermination()
    docs.map { case (id, t) => (id, t, "en", "s", t.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val expected = graft.ops.Dedup.minhashSignature(spark, dir, numHashes = 64, bands = 16)
      .collect().flatMap(r => (0 until 16).map(b =>
        (r.getAs[Long]("doc_id"), b, r.getAs[String](s"band_$b")))).toSet
    val indexed = spark.read.parquet(band).select("doc_id", "band", "band_key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(expected.size === 3 * 16)
    assert(indexed === expected)
  }

  test("null-text rows pass through unexamined and never enter the index") {
    val s = spark
    import s.implicits._
    val batch = Seq((1L, words(0, 30), "en", "s"), (2L, null: String, "en", "s"),
      (3L, null: String, "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val empty = NearDupIngest.readBandIndex(spark, tempDir("ndn") + "/nope", -1L)
    val emptySig = NearDupIngest.readSigIndex(spark, tempDir("ndn2") + "/nope", -1L)
    val got = NearDupIngest.dedupBatch(batch, empty, emptySig)
    assert(got.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L),
      "null-text docs are distinct records, not duplicates of each other")
    assert(got.where(got("sig").isNull).count() === 2, "null text carries no signature")
  }

  test("the ingest caches nothing past its epochs: persistent-RDD count unchanged by two drains") {
    val src = tempDir("ndl-src"); val out = tempDir("ndl-out")
    val sig = tempDir("ndl-sig") + "/sig"; val band = tempDir("ndl-band") + "/band"
    val cp = tempDir("ndl-cp")
    val before = spark.sparkContext.getPersistentRDDs.size
    writeBatch(src, "b1", Seq(1L -> words(0, 40), 2L -> (0 until 40).map(i => s"x$i").mkString(" ")))
    NearDupIngest.start(spark, src, out, sig, band, cp,
      trigger = Trigger.AvailableNow()).awaitTermination()
    writeBatch(src, "b2", Seq(3L -> words(0, 40).replace("w20", "EDITED"),
      4L -> (0 until 40).map(i => s"y$i").mkString(" ")))
    NearDupIngest.start(spark, src, out, sig, band, cp,
      trigger = Trigger.AvailableNow()).awaitTermination()
    assert(spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 4L))
    assert(spark.sparkContext.getPersistentRDDs.size === before,
      "every epoch must unpersist what it cached")
  }
}
