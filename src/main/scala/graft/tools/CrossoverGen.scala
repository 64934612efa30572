package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generate a LARGER synthetic corpus with the same shapes as the driver's
  * testdata (VERDICT r8 next-round #1: the four ratio-weak queries are
  * fixed-job-overhead floors on toy inputs; proving the scale crossover
  * needs the same workload at 10-50× the rows).
  *
  * Faithfulness to `/root/testdata/sf0.1` (read-only, never modified):
  *   - documents: the SAME 31-word vocabulary and language/source marginals,
  *     read from the real table at generation time, word-salad bodies of
  *     8–110 words (n_chars ≈ 44–580, mean ≈ 300 — the measured range);
  *     near-dup structure planted as shared snippets: ~4% of docs splice a
  *     10–25-word span from one of 300 deterministic snippets (≈ 7 docs per
  *     snippet — inside sparse_sim's df∈[2,10] window), and ~0.2% are exact
  *     duplicates of an earlier doc (the sf0.1 table carries 8/5000).
  *   - embeddings: unit-normalized 64-dim float vectors with 10 label
  *     clusters (vec = normalize(gaussian + 0.6·center[label])), matching
  *     the real table's unit norms and label 0..9.
  *   - events: the sf0.1 table's measured shape — event_id strictly
  *     time-ordered (ts = start + id·step + jitter < step, so order
  *     statistics stay sorted like the real uniform draw), the same 30-day
  *     window, users scaled proportionally (sf0.1: 100k events / 1500
  *     users ≈ 67 per user — preserved, so per-user session-gap character
  *     survives the scale-up), uniform 5-way event_type, value ~
  *     Exponential(mean 50) (the real median 34.77 ≈ 50·ln 2 pins the
  *     family), props = {"k": 0..99}. Written as parquet
  *     TIMESTAMP(MICROS, adjustedToUTC=false) — the round-9 driver
  *     layout, exercising the reader's NTZ branch.
  *
  * v5 (VERDICT r11 #1): the corpus also carries the Q3/Q5 join chain —
  * customer (orders' own nCust derivation, so keys line up), supplier
  * (sf0.1's orders:supplier ratio), verbatim 25-nation / 5-region
  * dimensional content, and lineitem grows the revenue columns
  * (l_extendedprice/l_discount/l_suppkey/l_shipdate, the measured sf0.1
  * marginals, shipdate anchored to the order's own date) — so the 8
  * legacy >10× families (q3_join, q5_join, asof_join, publish_dedup and
  * the four documents-only text families) measure on real join work.
  *
  * v6 (VERDICT r12 bar, applied to the round-13 TPC-H batch): orders span
  * the REAL table's 1995→2001 window (the r13 queries' 2000/2001 date
  * filters were vacuous on v5's 1996+900d span), lineitem adds
  * l_quantity (uniform 1..50, the measured range) and l_returnflag
  * (uniform A/N/R — the real ~⅓ R marginal), customer adds
  * c_name/c_acctbal (uniform [-999, 10000] 2-dp, the measured span), and
  * a `part` table appears (Brand#1..25, the 6 p_type categories,
  * p_size 1..50 — uniform like the real generator's draws), so
  * q4/q8/q10/q12/q13/q14/q15/q18/q19/q22 all measure real work.
  *
  * v8 (the round-13 TPC-H completion): part gains p_name
  * (adjective+noun grid, 'widget' ≈ 1/8 — the real ~13% LIKE-pattern
  * marginal) and p_retailprice (900..999.9 2-dp), supplier gains
  * s_acctbal ([-999, 10000] 2-dp) — the columns
  * q2/q9/q11/q16/q17/q20/q21 measure on.
  *
  * Deterministic: every row is a pure function of its id (per-row
  * java.util.Random seeded by a splitmix of the id), so exact-duplicate
  * donors regenerate their donor's text without reading it. Generation is
  * distributed (mapPartitions over spark.range) — the tool itself would run
  * at any scale.
  *
  *   runMain graft.tools.CrossoverGen <outDir> [nDocs] [nVecs] [nEvents]
  */
object CrossoverGen {

  private def mix(seed: Long): java.util.Random = {
    // splitmix64 step so consecutive ids do not correlate the LCG streams
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    new java.util.Random(z ^ (z >>> 31))
  }

  /** Word-salad body for doc `id` over `vocab`, splicing a shared snippet
    * span into ~4% of docs and fully duplicating ~0.2% from a donor id.
    * Pure function of (id, vocab) — see object doc.
    */
  def docText(id: Long, vocab: Array[String]): String = {
    val r = mix(0xD0C5EEDL ^ id)
    val exactDup = id >= 1000 && r.nextDouble() < 0.002
    if (exactDup) {
      // donor = earlier id; its text regenerates from the same pure function
      val donor = java.lang.Math.floorMod(mix(0xD0E04L ^ id).nextLong(), id - 1)
      docText(donor, vocab)
    } else {
      val nWords = 8 + r.nextInt(103)
      val words = Array.fill(nWords)(vocab(r.nextInt(vocab.length)))
      if (r.nextDouble() < 0.04) {
        // splice a snippet: 300 deterministic snippets of 10-25 words
        val sr = mix(0x5A1E7L ^ r.nextInt(300).toLong)
        val span = Array.fill(10 + sr.nextInt(16))(vocab(sr.nextInt(vocab.length)))
        val at = r.nextInt(words.length)
        (words.take(at) ++ span ++ words.drop(at)).mkString(" ")
      } else words.mkString(" ")
    }
  }

  /** Event row for `id` — pure function like [[docText]], so generation is
    * deterministic and the jitter bound (0.9·step < step) keeps ts strictly
    * increasing in id, mirroring the real table's zero inversions.
    */
  def eventRow(id: Long, nUsers: Long, startUs: Long, stepUs: Long,
               eventTypes: Array[String]): (Long, Long, Long, String, Double, String) = {
    val r = mix(0xE7E47L ^ id)
    val ts = startUs + id * stepUs + (r.nextDouble() * 0.9 * stepUs).toLong
    val user = java.lang.Math.floorMod(r.nextLong(), nUsers)
    val etype = eventTypes(r.nextInt(eventTypes.length))
    // Exponential(mean 50), 2dp — the measured value family
    val value = math.rint(-50.0 * math.log(1.0 - r.nextDouble()) * 100) / 100
    (id, ts, user, etype, value, s"""{"k": ${r.nextInt(100)}}""")
  }

  /** Order row for `id` — pure function like [[eventRow]]; mirrors the
    * sf0.1 table's measured shape: ~10 orders/customer, o_totalprice
    * uniform-ish in [1k, 500k] with 2-dp cents, orderdate uniform across a
    * ~2.5-year window at day granularity (the real table's midnight-only
    * timestamps), categorical status/priority.
    */
  def orderRow(id: Long, nCust: Long, startDay: Long,
               spanDays: Int): (Long, Long, String, Double, Long, String) = {
    val r = mix(0x08DE85L ^ id)
    val statuses = Array("F", "O", "P")
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val cust = java.lang.Math.floorMod(r.nextLong(), nCust)
    val status = statuses(r.nextInt(statuses.length))
    val price = math.rint((1000.0 + r.nextDouble() * 499000.0) * 100) / 100
    val day = startDay + r.nextInt(spanDays)
    val prio = prios(r.nextInt(prios.length))
    (id, cust, status, price, day, prio)
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(sys.error("usage: CrossoverGen <outDir> [nDocs] [nVecs] [nEvents] [nOrders]"))
    val nDocs = if (args.length > 1) args(1).toLong else 50000L
    val nVecs = if (args.length > 2) args(2).toLong else 100000L
    val nEvents = if (args.length > 3) args(3).toLong else 2000000L
    val nOrders = if (args.length > 4) args(4).toLong else 0L
    val srcDir = "/root/testdata/sf0.1"
    val spark = graft.BenchHarness.envSession(32)
    import spark.implicits._

    // marginals measured from the real table, not hardcoded guesses
    val src = spark.read.parquet(s"$srcDir/documents.parquet")
    val vocab = src.select(explode(split(col("text"), " ")).as("w"))
      .distinct().orderBy("w").as[String].collect()
    val langs = src.groupBy("lang").count().orderBy("lang")
      .collect().map(r => (r.getString(0), r.getLong(1).toDouble))
    val langTot = langs.map(_._2).sum
    val langCdf = langs.map(_._1).zip(langs.map(_._2 / langTot).scanLeft(0.0)(_ + _).tail)
    val sources = src.select("source").distinct().orderBy("source").as[String].collect()

    val docs = spark.range(nDocs).select(col("id").as("doc_id"))
      .as[Long].mapPartitions { ids =>
        ids.map { id =>
          val text = docText(id, vocab)
          val r = mix(0x7AB1E5L ^ id)
          val u = r.nextDouble()
          val lang = langCdf.find(u <= _._2).map(_._1).getOrElse(langCdf.last._1)
          val source = sources(r.nextInt(sources.length))
          (id, text, lang, source, text.length.toLong)
        }
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val dim = 64
    val centers = {
      val cr = mix(0xCE17E85L)
      Array.fill(10) {
        val v = Array.fill(dim)(cr.nextGaussian())
        val n = math.sqrt(v.map(x => x * x).sum)
        v.map(_ / n)
      }
    }
    val vecs = spark.range(nVecs).select(col("id").as("vec_id"))
      .as[Long].mapPartitions { ids =>
        ids.map { id =>
          val r = mix(0xE58EDL ^ id)
          val label = (id % 10).toInt
          val raw = Array.tabulate(dim)(i => r.nextGaussian() + 0.6 * centers(label)(i))
          val n = math.sqrt(raw.map(x => x * x).sum)
          (id, raw.map(x => (x / n).toFloat).toSeq, label)
        }
      }.toDF("vec_id", "embedding", "label")
    vecs.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // events: 30-day window like sf0.1; step·jitter<step keeps event_id
    // strictly time-ordered (the real table has zero inversions)
    val startUs = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    val spanUs = 30L * 86400L * 1000000L
    // Clamp to ≥1 µs: the strict ts-increase invariant needs stepUs ≥ 1
    // (at stepUs=0 every jitter truncates to 0 and ts collapses to startUs).
    // Past ~2.6e12 events the 30-day window therefore widens to nEvents µs —
    // still strictly ordered, just a longer synthetic span.
    val stepUs = math.max(spanUs / math.max(nEvents, 1L), 1L)
    val nUsers = math.max(nEvents / 67L, 1L) // sf0.1: ~67 events/user
    val eventTypes = Array("click", "error", "purchase", "signup", "view")
    val events = spark.range(nEvents).as[Long].mapPartitions { ids =>
      ids.map(eventRow(_, nUsers, startUs, stepUs, eventTypes))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")).cast("timestamp_ntz"))
    events.write.mode("overwrite").parquet(s"$outDir/events.parquet")

    if (nOrders > 0) {
      // sf0.1: 150k orders / 15k customers ≈ 10 per customer — preserved so
      // the RFM frequency distribution keeps its character at scale
      val nCust = math.max(nOrders / 10L, 1L)
      // v6: the real orders table spans 1995-01-01..2001-08-01 — reproduce
      // it so the r13 queries' 2000/2001 windows select real slices
      val startDay = java.time.LocalDate.parse("1995-01-01").toEpochDay
      val spanDays = 2404
      val orders = spark.range(nOrders).as[Long].mapPartitions { ids =>
        ids.map(orderRow(_, nCust, startDay, spanDays))
      }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "day", "o_orderpriority")
        .withColumn("o_orderdate",
          timestamp_micros(col("day") * 86400L * 1000000L).cast("timestamp_ntz"))
        .drop("day")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
      orders.write.mode("overwrite").parquet(s"$outDir/orders.parquet")

      // lineitem mirrors the sf0.1 basket shape: ~4 lines/order (uniform
      // 1..7, max well under the real 17), parts ≈ orders/7.5 (sf0.1:
      // 150k orders / 20k parts), part draw uniform — enough structure for
      // basket_affinity's pair/frequency/lift math to do real work. v5
      // adds the Q3/Q5 revenue columns: price uniform [900, 105k] 2-dp,
      // discount 0.00-0.10 (the measured marginals), supplier uniform,
      // shipdate = the order's date + 1..120 days (replaying orderRow's
      // pure day draw — no join needed at generation time). Only the
      // columns the measured queries touch.
      val nParts = math.max(nOrders / 8L, 1L)
      val nSupp = math.max(nOrders / 150L, 1L) // sf0.1: 150k orders / 1k suppliers
      val returnFlags = Array("A", "N", "R")
      val lineitem = spark.range(nOrders).as[Long].mapPartitions { ids =>
        ids.flatMap { oid =>
          val orderDay = orderRow(oid, nCust, startDay, spanDays)._5
          val r = mix(0x11EA17L ^ oid)
          val n = 1 + r.nextInt(7)
          (0 until n).map { _ =>
            val part = java.lang.Math.floorMod(r.nextLong(), nParts)
            val supp = java.lang.Math.floorMod(r.nextLong(), nSupp)
            val price = math.rint((900.0 + r.nextDouble() * 104100.0) * 100) / 100
            val disc = r.nextInt(11) / 100.0
            val shipDay = orderDay + 1 + r.nextInt(120)
            // v6: quantity/returnflag for q18/q19/q10 (measured marginals)
            val qty = (1 + r.nextInt(50)).toDouble
            val rf = returnFlags(r.nextInt(returnFlags.length))
            // v9: linestatus for q1 — the testdata's marginal is a 50/50
            // coin flip UNCORRELATED with shipdate (measured: 300129 F /
            // 299871 O, date ranges identical). Drawn LAST so every
            // pre-v9 column keeps its exact value from the same stream.
            val ls = if (r.nextInt(2) == 0) "F" else "O"
            (oid, part, supp, price, disc, shipDay, qty, rf, ls)
          }
        }
      }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice",
        "l_discount", "ship_day", "l_quantity", "l_returnflag", "l_linestatus")
        .withColumn("l_shipdate",
          timestamp_micros(col("ship_day") * 86400L * 1000000L).cast("timestamp_ntz"))
        .drop("ship_day")
      lineitem.write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

      // v5: the Q3/Q5 dimension chain. customer keys line up with orders'
      // o_custkey draw (same nCust derivation); segments/nations uniform —
      // the real tables' shape. supplier scales with orders (sf0.1 ratio);
      // nation (25) and region (5) are FIXED dimensional content at every
      // scale, reproduced verbatim from the testdata's generator family.
      val customer = spark.range(nCust).as[Long].mapPartitions { ids =>
        val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        ids.map { id =>
          val r = mix(0xC057L ^ id)
          // v6: name/balance for q10/q22 (the measured [-999, 10000] 2-dp span)
          val bal = math.rint((-999.0 + r.nextDouble() * 10999.0) * 100) / 100
          (id, r.nextInt(25), segments(r.nextInt(segments.length)),
            s"Customer#$id", bal)
        }
      }.toDF("c_custkey", "c_nationkey", "c_mktsegment", "c_name", "c_acctbal")
      customer.write.mode("overwrite").parquet(s"$outDir/customer.parquet")

      // v6: part dimension for q8/q14/q19 — uniform categorical draws like
      // the real generator's (25 brands, 6 types, sizes 1..50).
      // v8: p_name (adjective+noun, widget ≈ 1/8 — the real ~13% marginal)
      // and p_retailprice (the measured 900..999.9 2-dp span) for
      // q9_margin/q11_important/q20_excess.
      val part = spark.range(nParts).as[Long].mapPartitions { ids =>
        val types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
        val adjs = Array("red", "blue", "small", "hot", "green", "cold", "large", "dim")
        val nouns = Array("ring", "widget", "bolt", "gear", "gizmo", "plate", "cog", "pin")
        ids.map { id =>
          val r = mix(0x9A27L ^ id)
          val name = s"${adjs(r.nextInt(adjs.length))} ${nouns(r.nextInt(nouns.length))}"
          val retail = math.rint((900.0 + r.nextDouble() * 99.9) * 100) / 100
          (id, s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(types.length)),
            1 + r.nextInt(50), name, retail)
        }
      }.toDF("p_partkey", "p_brand", "p_type", "p_size", "p_name", "p_retailprice")
      part.write.mode("overwrite").parquet(s"$outDir/part.parquet")

      // v8: s_acctbal (the measured [-999, 10000] 2-dp span) for q2_min_cost
      val supplier = spark.range(nSupp).as[Long].mapPartitions { ids =>
        ids.map { id =>
          val r = mix(0x50BBL ^ id)
          val natKey = r.nextInt(25)
          val bal = math.rint((-999.0 + r.nextDouble() * 10999.0) * 100) / 100
          (id, natKey, s"Supplier#$id", bal)
        }
      }.toDF("s_suppkey", "s_nationkey", "s_name", "s_acctbal")
      supplier.write.mode("overwrite").parquet(s"$outDir/supplier.parquet")

      val nation = (0 until 25).map(i => (i, s"NATION_$i", i % 5))
        .toDF("n_nationkey", "n_name", "n_regionkey")
      nation.coalesce(1).write.mode("overwrite").parquet(s"$outDir/nation.parquet")
      val region = Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
        .toDF("r_regionkey", "r_name")
      region.coalesce(1).write.mode("overwrite").parquet(s"$outDir/region.parquet")
    }

    println(s"""{"generated":"$outDir","n_docs":$nDocs,"n_vecs":$nVecs,"n_events":$nEvents,"n_orders":$nOrders,"vocab":${vocab.length}}""")
    spark.stop()
  }
}
