package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One change event of the JSON feed (ChangeStreamJob.eventSchema). */
final case class Ev(id: Long, tsUs: Long, user: Long, etype: String, value: Double, k: Int) {
  def json: String =
    s"""{"event_id":$id,"ts_us":$tsUs,"user_id":$user,"event_type":"$etype",""" +
      s""""value":$value,"props":"{\\"k\\": $k}"}"""
}

/** Seeded input generators. The program only ever sees the files written
  * here: a JSON-dir change feed, and parquet tables laid out like the
  * repository's sf test data (one file, one row group).
  */
object Feed {
  val eventTypes: Array[String] = Array("click", "error", "purchase", "signup", "view")

  def rng(seed: Long, stream: Long): java.util.Random = {
    // splitmix64 finaliser, so nearby (seed, stream) pairs do not correlate
    var z = seed * 0x9e3779b97f4a7c15L + stream
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    new java.util.Random(z ^ (z >>> 31))
  }

  /** `n` events with the sf0.1 events table's shape: ids in time order over a
    * 30-day window, about 67 events per user, a uniform 5-way event type,
    * Exponential(mean 50) values with 2 decimals and props {"k": 0..99}.
    * `key` draws the user of each event.
    */
  def events(n: Int, r: java.util.Random)(key: java.util.Random => Long): Array[Ev] = {
    val startUs = 1704067200000000L // 2024-01-01T00:00:00Z
    val stepUs = 30L * 86400L * 1000000L / math.max(n, 1)
    Array.tabulate(n) { i =>
      val ts = startUs + i * stepUs + (r.nextDouble() * 0.9 * stepUs).toLong
      val value = math.rint(-50.0 * math.log(1.0 - r.nextDouble()) * 100) / 100
      Ev(i.toLong, ts, key(r), eventTypes(r.nextInt(eventTypes.length)), value, r.nextInt(100))
    }
  }

  def uniformKeys(nUsers: Long): java.util.Random => Long =
    r => java.lang.Math.floorMod(r.nextLong(), nUsers)

  /** Write `evs` as one JSON-lines file in `dir`, atomically (staged under a
    * hidden name the file source ignores, then renamed), with modification
    * time `mtimeMs` so the file source admits files in event order.
    */
  def writeFeedFile(dir: Path, name: String, evs: Iterator[Ev], mtimeMs: Long = -1L): Path = {
    Files.createDirectories(dir)
    val tmp = dir.resolve("." + name + ".tmp")
    val w = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
    try evs.foreach { e => w.write(e.json); w.write('\n') } finally w.close()
    if (mtimeMs >= 0) Files.setLastModifiedTime(tmp, FileTime.fromMillis(mtimeMs))
    val out = dir.resolve(name)
    Files.move(tmp, out, StandardCopyOption.ATOMIC_MOVE)
    out
  }

  /** Sizes of `epochs × perEpoch` contiguous id ranges covering `n`
    * events. The file source admits `perEpoch` files per epoch in order, so
    * every epoch gets the same n / epochs events; inside an epoch the seed
    * sets where the files split (each holds between half and one and a half
    * times the mean file).
    */
  def splitSizes(n: Int, epochs: Int, perEpoch: Int, r: java.util.Random): Seq[Int] =
    (0 until epochs).flatMap { e =>
      val total = n / epochs + (if (e < n % epochs) 1 else 0)
      val mean = total / perEpoch
      val sizes = Array.fill(perEpoch)(mean)
      sizes(perEpoch - 1) += total - mean * perEpoch
      for (_ <- 0 until perEpoch * 4) {
        val i = r.nextInt(perEpoch)
        val j = r.nextInt(perEpoch)
        val d = r.nextInt(mean / 4 + 1)
        if (i != j && sizes(i) - d >= mean / 2 && sizes(j) + d <= mean * 3 / 2) {
          sizes(i) -= d
          sizes(j) += d
        }
      }
      sizes.toSeq
    }

  /** Stage `evs` as a backlog: one file per split, in event order, with
    * modification times one second apart ending a minute ago.
    */
  def stageBacklog(dir: Path, evs: Array[Ev], sizes: Seq[Int]): Unit = {
    val base = System.currentTimeMillis() - 60000L - sizes.length * 1000L
    var from = 0
    sizes.zipWithIndex.foreach { case (s, i) =>
      writeFeedFile(dir, f"part-$i%05d.json", evs.iterator.slice(from, from + s), base + i * 1000L)
      from += s
    }
  }

  /** The same events as the batch `events` table the registered queries
    * read (Tables.events), `ts` as a zoned timestamp.
    */
  def eventsFrame(spark: SparkSession, evs: Array[Ev]): DataFrame = {
    import spark.implicits._
    evs.toSeq.map(e => (e.id, e.tsUs, e.user, e.etype, e.value, s"""{"k": ${e.k}}"""))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
  }

  // The sf0.1 documents table's 31-word vocabulary and language marginals.
  private val vocab = ("a agg batch big column customer data dup fast filter group hash join key " +
    "line merge order part query row scan slow small sort spark stream table the value vector window")
    .split(' ')
  private val langs = Seq("de" -> 702, "en" -> 2059, "es" -> 744, "fr" -> 742, "zh" -> 753)

  /** `n` documents shaped like the sf0.1 table: word-salad bodies of 8–110
    * words over its vocabulary, its language marginals, 20 balanced
    * sources; about 4% splice a shared 10–25-word snippet (about 7 docs
    * per snippet) and about 0.2% exactly duplicate an earlier document.
    */
  def documents(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    import spark.implicits._
    val nSnippets = math.max(n / 175, 1)
    val snippets = Array.tabulate(nSnippets) { i =>
      val sr = rng(seed, 0x5A1E7L + i)
      Array.fill(10 + sr.nextInt(16))(vocab(sr.nextInt(vocab.length))).mkString(" ")
    }
    val langCdf = langs.map(_._1).zip(langs.map(_._2.toDouble / langs.map(_._2).sum).scanLeft(0.0)(_ + _).tail)
    val texts = new Array[String](n)
    val rows = (0 until n).map { i =>
      val r = rng(seed, 0xD0C5L * 1000003L + i)
      texts(i) =
        if (i >= 100 && r.nextDouble() < 0.002) texts(r.nextInt(i))
        else {
          val words = Array.fill(8 + r.nextInt(103))(vocab(r.nextInt(vocab.length)))
          if (r.nextDouble() < 0.04) {
            val at = r.nextInt(words.length)
            (words.take(at) ++ Array(snippets(r.nextInt(nSnippets))) ++ words.drop(at)).mkString(" ")
          } else words.mkString(" ")
        }
      val u = r.nextDouble()
      val lang = langCdf.find(u <= _._2).map(_._1).getOrElse(langCdf.last._1)
      (i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** `n` unit-norm 64-dim embeddings in 10 label clusters
    * (normalize(gaussian + 0.6·center[label]), label = vec_id mod 10).
    */
  def embeddings(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    import spark.implicits._
    val dim = 64
    val cr = rng(seed, 0xCE17E85L)
    val centers = Array.fill(10) {
      val v = Array.fill(dim)(cr.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
    (0 until n).map { i =>
      val r = rng(seed, 0xE58EDL * 1000003L + i)
      val label = i % 10
      val raw = Array.tabulate(dim)(d => r.nextGaussian() + 0.6 * centers(label)(d))
      val norm = math.sqrt(raw.map(x => x * x).sum)
      (i.toLong, raw.map(x => (x / norm).toFloat).toSeq, label)
    }.toDF("vec_id", "embedding", "label")
  }

  /** Write `df` as `<dir>/<name>.parquet`, one file with one row group. */
  def writeTable(df: DataFrame, dir: String, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
}
