package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.streaming.{AmqpQueuePublisher, ChangeStreamJob, KafkaEventSource, KafkaQueuePublisher, MongoEventSource}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the three wire contracts (r8 verdict stretch #7).
  *
  * The byte-pinned fixtures in AmqpPublisherSpec / KafkaSourceSpec /
  * MongoSourceSpec pin the HAPPY shape; the escaping class of bug (r7
  * ADVICE #2 — control chars in a spliced string publishing invalid JSON)
  * lives in the inputs nobody writes as a fixture. So: ScalaCheck
  * generators produce envelopes with adversarial unicode everywhere a
  * string is spliced (quotes, backslashes, control chars, high BMP,
  * JSON-framing chars) and with optionals absent in every combination,
  * and the properties assert what the fixtures can't enumerate:
  *
  *  - every AMQP payload is strict-parseable JSON (Jackson, the same
  *    grammar serde_json accepts) with absent optionals OMITTED, and its
  *    strings parse back to the exact original values;
  *  - the AMQP payload round-trips through MongoEventSource.decodeEnvelope
  *    — publisher and source speak the same wire dialect end-to-end;
  *  - KafkaQueuePublisher.encode round-trips through from_json, and
  *    KafkaEventSource.decode keeps exactly the well-formed events out of
  *    a feed salted with garbage (malformed rows drop, never poison).
  *
  * Samples are drawn once per property with a FIXED seed (pureApply), so
  * failures replay deterministically and each property costs one Spark
  * job over a local batch, not a job per sample.
  */
class WireContractPropertySpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private val samples = 160

  // --- generators ----------------------------------------------------------

  /** BMP chars excluding surrogates (a lone surrogate is not a code point;
    * both Jackson and serde_json reject it, so it can't appear in a real
    * db/coll name either). Control chars and JSON-special chars are
    * weighted up — they are the escaping bugs' habitat.
    */
  private val nastyChar: Gen[Char] = Gen.frequency(
    6 -> Gen.alphaNumChar,
    3 -> Gen.oneOf('"', '\\', '/', '{', '}', '[', ']', ':', ',', '\''),
    3 -> Gen.oneOf('\u0000', '\u0001', '\n', '\r', '\t', '\b', '\f', '\u001f'),
    2 -> Gen.choose(0x20.toChar, 0xD7FF.toChar),
    1 -> Gen.choose(0xE000.toChar, 0xFFFD.toChar))

  private val nastyString: Gen[String] =
    Gen.chooseNum(0, 24).flatMap(n => Gen.stringOfN(n, nastyChar))

  /** A change-event envelope in the engine's canonical schema, with
    * adversarial strings and per-field optionality. op drives the
    * reference's delete shape: deletes carry no fullDocument and hence no
    * event_id (mongodb change-stream semantics decodeEnvelope preserves).
    */
  private case class Env(eventId: java.lang.Long, token: String, op: String,
                         db: String, coll: String, key: java.lang.Long,
                         fullDoc: String, clusterSec: java.lang.Long)

  /** fullDocument is a JSON VALUE spliced verbatim (amqp.rs:96 serializes
    * the driver's document), so generate it as real JSON via Jackson —
    * including the adversarial strings INSIDE it, where they arrive
    * already escaped.
    */
  private def docJson(id: Long, etype: String, props: String): String = {
    val node = mapper.createObjectNode()
    node.put("event_id", id)
    node.put("user_id", id % 97)
    node.put("ts_us", id % 1000000007L)
    node.put("event_type", etype)
    node.put("value", (id % 1000) / 10.0)
    node.put("props", props)
    mapper.writeValueAsString(node)
  }

  private val fullEnvelope: Gen[Env] = for {
    id <- Gen.chooseNum(0L, Long.MaxValue)
    token <- nastyString
    op <- Gen.oneOf("insert", "update", "replace", "delete")
    db <- nastyString
    coll <- nastyString
    key <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
    etype <- nastyString
    props <- nastyString
    sec <- Gen.chooseNum(0L, 4102444800L)
  } yield
    if (op == "delete") Env(null, token, op, db, coll, key, null, sec)
    else Env(id, token, op, db, coll, key, docJson(id, etype, props), sec)

  /** Any field may independently be null — the malformed-wire-row space
    * the null-guarded concat must survive (a null resume token must drop
    * `_id`, never the opening brace).
    */
  private val holeyEnvelope: Gen[Env] = for {
    e <- fullEnvelope
    holes <- Gen.listOfN(6, Gen.prob(0.3))
  } yield Env(
    if (holes(0)) null else e.eventId,
    if (holes(1)) null else e.token,
    if (holes(2)) null else e.op,
    if (holes(3)) null else e.db,
    if (holes(4)) null else e.coll, e.key,
    if (holes(5)) null else e.fullDoc, e.clusterSec)

  private def draw[A](g: Gen[A], seed: Long): List[A] =
    Gen.listOfN(samples, g).pureApply(Gen.Parameters.default, Seed(seed))

  private def toDf(envs: Seq[Env]): DataFrame = {
    val rows = envs.map(e => Row(e.eventId, e.token, e.op, e.db, e.coll,
      e.key, e.fullDoc, e.clusterSec))
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("resume_token", StringType),
      StructField("operation_type", StringType), StructField("ns_db", StringType),
      StructField("ns_coll", StringType), StructField("document_key", LongType),
      StructField("full_document", StringType), StructField("sec", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .withColumn("cluster_time", timestamp_seconds(col("sec"))).drop("sec")
  }

  // --- AMQP payload properties --------------------------------------------

  test("property: every AMQP payload is strict JSON and strings round-trip exactly") {
    val envs = draw(holeyEnvelope, seed = 42L)
    val payloads = AmqpQueuePublisher.encode(toDf(envs), "q")
      .select("payload").collect().map(_.getString(0))
    assert(payloads.length === envs.length)
    // Rows come back in partition order = input order (no shuffle in encode).
    envs.zip(payloads).foreach { case (e, p) =>
      val node = mapper.readTree(p) // throws on any invalid JSON → test fails
      assert(node.isObject, s"payload not an object: $p")
      if (e.token == null) assert(!node.has("_id"), p)
      else assert(node.path("_id").path("_data").textValue() === e.token)
      if (e.op == null) assert(!node.has("operationType"), p)
      else assert(node.path("operationType").textValue() === e.op)
      // ns splices BOTH names; either being null nulls the inner concat, so
      // the field is present iff both halves are — a half-null ns is a
      // malformed wire row and omitting it (like any absent optional) is
      // what keeps the payload parseable.
      if (e.db == null || e.coll == null) assert(!node.has("ns"), p)
      else {
        assert(node.path("ns").path("db").textValue() === e.db)
        assert(node.path("ns").path("coll").textValue() === e.coll)
      }
      if (e.fullDoc == null) assert(!node.has("fullDocument"), p)
      else assert(node.path("fullDocument") === mapper.readTree(e.fullDoc))
      assert(node.path("documentKey").path("_id").longValue() === e.key)
      assert(node.path("clusterTime").path("$timestamp").path("t").longValue()
        === e.clusterSec.longValue())
    }
  }

  test("property: AMQP payloads round-trip through MongoEventSource.decodeEnvelope") {
    // The publisher's payload IS the change-stream document shape the Mongo
    // source consumes (both sides pin serde of the driver's
    // ChangeStreamEvent), so encode → wire-parse → decodeEnvelope must
    // reproduce the envelope. Full envelopes only: decodeEnvelope defines
    // event_id/full_document via the mongodb delete semantics the generator
    // already models, but a null ns or token is a malformed WIRE row, not a
    // publishable envelope.
    val envs = draw(fullEnvelope, seed = 7L)
    val payloads = AmqpQueuePublisher.encode(toDf(envs), "q")
    val wire = payloads.select(
      from_json(col("payload"), StructType(Seq(
        StructField("_id", StructType(Seq(StructField("_data", StringType)))),
        StructField("operationType", StringType),
        StructField("clusterTime", StringType),
        StructField("ns", StructType(Seq(
          StructField("db", StringType), StructField("coll", StringType)))),
        StructField("documentKey", StringType),
        StructField("fullDocument", StringType)))).as("w"))
      .select(col("w.*"))
    val back = MongoEventSource.decodeEnvelope(wire).collect()
    assert(back.length === envs.length)
    envs.zip(back).foreach { case (e, r) =>
      assert(r.getAs[String]("resume_token") === e.token)
      assert(r.getAs[String]("operation_type") === e.op)
      assert(r.getAs[String]("ns_db") === e.db)
      assert(r.getAs[String]("ns_coll") === e.coll)
      assert(r.getAs[java.lang.Long]("document_key") === e.key)
      if (e.op == "delete") {
        assert(r.getAs[java.lang.Long]("event_id") === null)
        assert(r.getAs[String]("full_document") === null)
      } else {
        assert(r.getAs[java.lang.Long]("event_id") === e.eventId)
        // from_json re-serializes the captured object; compare as JSON.
        assert(mapper.readTree(r.getAs[String]("full_document"))
          === mapper.readTree(e.fullDoc))
      }
      assert(r.getAs[java.sql.Timestamp]("cluster_time").getTime / 1000
        === e.clusterSec.longValue())
    }
  }

  test("property: decodeEnvelope parses BSON timestamps over the full {t,i} range") {
    // The round-trip property above only sees the publisher's own
    // clusterTime serialization (always {"t":N,"i":1}); a real mongod
    // emits the full extended-JSON BSON-timestamp space — uint32 t AND i,
    // either field order, driver-dependent whitespace. Generate raw wire
    // rows across that space (r9 verdict #4: the one wire path previously
    // pinned only by fixtures) plus malformed variants, and assert t
    // alone defines cluster_time (the ordinal is not representable in a
    // µs timestamp and must be ignored, never mis-parsed) while malformed
    // timestamps decode to null — drop-don't-poison, same as every other
    // wire field.
    val wellFormed: Gen[(java.lang.Long, String)] = for {
      t <- Gen.chooseNum(0L, 4294967295L) // uint32 seconds (through 2106)
      i <- Gen.chooseNum(0L, 4294967295L) // uint32 ordinal
      tFirst <- Gen.prob(0.5)
      ws <- Gen.oneOf("", " ")
      inner = if (tFirst) s""""t":$ws$t,$ws"i":$ws$i"""
              else s""""i":$ws$i,$ws"t":$ws$t"""
    } yield (java.lang.Long.valueOf(t), s"""{"$$timestamp":$ws{$inner}}""")
    val malformed: Gen[(java.lang.Long, String)] = Gen.oneOf(Seq[String](
      null, "", "not json", "{}", """{"$timestamp": {}}""",
      """{"$timestamp": {"i": 5}}""",          // no t → null
      """{"$timestamp": {"t": "notnum"}}""",   // wrong type → null
      """{"$date": "2024-01-01T00:00:00Z"}""")) // different extended-JSON type
      .map((null: java.lang.Long, _))
    val cases = draw(Gen.frequency(4 -> wellFormed, 1 -> malformed), seed = 53L)
    val rows = cases.map { case (_, ct) => Row(ct) }
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("clusterTime", StringType))))
      .select(
        struct(lit("tok").as("_data")).as("_id"),
        lit("insert").as("operationType"),
        col("clusterTime"),
        struct(lit("db").as("db"), lit("c").as("coll")).as("ns"),
        lit("""{"_id": 1}""").as("documentKey"),
        lit("""{"event_id": 1}""").as("fullDocument"))
    val back = MongoEventSource.decodeEnvelope(wire)
      .select("cluster_time").collect()
    assert(back.length === cases.length)
    cases.zip(back).foreach { case ((expectSec, ct), r) =>
      val got = r.getAs[java.sql.Timestamp]("cluster_time")
      if (expectSec == null)
        assert(got === null, s"malformed clusterTime must decode null: $ct")
      else
        assert(got.getTime / 1000 === expectSec.longValue(),
          s"t must define cluster_time exactly: $ct")
    }
  }

  // --- Kafka properties ----------------------------------------------------

  test("property: Kafka record values round-trip the whole envelope via from_json") {
    val envs = draw(fullEnvelope, seed = 13L)
    val df = toDf(envs)
    val rec = KafkaQueuePublisher.encode(df)
    val back = rec.select(from_json(col("value"), df.schema).as("e"), col("key"))
      .select(col("key"), col("e.*")).collect()
    assert(back.length === envs.length)
    envs.zip(back).foreach { case (e, r) =>
      assert(r.getAs[String]("key") === e.key.toString) // partition/compaction key
      assert(r.getAs[String]("resume_token") === e.token)
      assert(r.getAs[String]("operation_type") === e.op)
      assert(r.getAs[String]("ns_db") === e.db)
      assert(r.getAs[String]("ns_coll") === e.coll)
      assert(r.getAs[java.lang.Long]("event_id") === e.eventId)
      if (e.fullDoc != null)
        assert(mapper.readTree(r.getAs[String]("full_document"))
          === mapper.readTree(e.fullDoc))
      assert(r.getAs[java.sql.Timestamp]("cluster_time").getTime / 1000
        === e.clusterSec.longValue())
    }
  }

  test("property: KafkaEventSource.decode keeps exactly the well-formed events from a salted feed") {
    // A topic carries whatever producers wrote: valid event JSON, JSON of
    // the wrong shape, and bytes that aren't JSON at all. decode's contract
    // is drop-don't-poison — assert it recovers precisely the valid subset,
    // fields intact, regardless of what the garbage looks like.
    val valid = draw(
      for {
        id <- Gen.chooseNum(0L, Long.MaxValue)
        etype <- nastyString
        props <- nastyString
      } yield (id, docJson(id, etype, props)), seed = 29L)
      .distinctBy(_._1)
    val garbage = draw(Gen.frequency(
      5 -> nastyString,                            // usually not JSON at all
      2 -> Gen.const("""{"user_id": 3}"""),        // JSON, but no event_id
      2 -> Gen.const("""{"event_id": "notnum"}"""),// wrong type → null → drop
      1 -> Gen.const("42")), seed = 31L)           // JSON, not an object
      .filterNot(g => g.contains("\"event_id\"") && !g.contains("notnum"))
    val s = spark
    import s.implicits._
    val feed = new scala.util.Random(17).shuffle(valid.map(_._2) ++ garbage)
      .toDF("str").select(col("str").cast("binary").as("value"))
    val out = KafkaEventSource.decode(feed).collect()
    assert(out.length === valid.length)
    val byId = out.map(r => r.getAs[Long]("event_id") -> r).toMap
    valid.foreach { case (id, doc) =>
      val r = byId(id)
      val d = mapper.readTree(doc)
      assert(r.getAs[String]("event_type") === d.path("event_type").textValue())
      assert(r.getAs[Long]("user_id") === d.path("user_id").longValue())
      assert(r.getAs[Long]("ts_us") === d.path("ts_us").longValue())
      assert(r.getAs[Double]("value") === d.path("value").doubleValue())
      assert(r.getAs[String]("props") === d.path("props").textValue())
    }
  }
}
