package graft

import graft.config._
import org.scalatest.funsuite.AnyFunSuite

/** Config loading + validation (config.rs:162-176, mrcond/src/main.rs:34-46). */
class ConfigSpec extends AnyFunSuite {

  private def coll(db: String, c: String, queue: String) =
    CollectionConfig(WatchedDb(db, c), ResumeTokensDb("tokens", s"${c}_tokens"), QueueSink(queue))

  test("duplicate collection configuration is rejected with both indices") {
    val a = coll("test", "c1", "q1")
    val res = Settings.create(Connections("src://x", "sink://y"), Seq(a, coll("test", "c2", "q2"), a))
    assert(res.isLeft)
    assert(res.left.exists(m => m.contains("index 2") && m.contains("0")))
  }

  test("two configurations watching one namespace are rejected with both indices") {
    val res = Settings.create(Connections("src://x", "sink://y"),
      Seq(coll("test", "c1", "q1"), coll("test", "c2", "q2"), coll("test", "c1", "q3")))
    assert(res.left.exists(m => m.contains("test.c1") && m.contains("index 2 and 0")))
    // the same collection name in another database is another namespace
    assert(Settings.create(Connections("s", "k"), Seq(coll("a", "c1", "q1"), coll("b", "c1", "q1"))).isRight)
  }

  test("distinct collections are accepted in order") {
    val res = Settings.create(Connections("s", "k"),
      Seq(coll("test", "c1", "q1"), coll("test", "c2", "q2")))
    assert(res.exists(_.collections.map(_.watched.collName) == Vector("c1", "c2")))
  }

  test("env-prefix overrides win over defaults (main.rs:34-40)") {
    val defaults = Connections("src://default", "sink://default")
    val c = Settings.connectionsFromEnv("MRCON", defaults,
      Map("MRCON_SOURCE_URI" -> "src://env", "OTHER_SINK_URI" -> "sink://wrong"))
    assert(c.sourceUri === "src://env")
    assert(c.sinkUri === "sink://default")
  }

  test("parses the reference-shaped collections yaml") {
    val yaml =
      """collections:
        |  - db_name: test
        |    coll_name: testcoll
        |    change_stream_pre_and_post_images: false
        |    tokens_db_name: test
        |    tokens_coll_name: resume_tokens
        |    tokens_coll_capped: true
        |    tokens_coll_size_in_bytes: 4096
        |    stream_name: teststream
        |""".stripMargin
    val res = Settings.parseCollections(yaml)
    assert(res.isRight)
    val c = res.toOption.get.head
    assert(c.watched === WatchedDb("test", "testcoll", preAndPostImages = false))
    assert(c.resumeTokens === ResumeTokensDb("test", "resume_tokens", Some(true), Some(4096L)))
    assert(c.queue === QueueSink("teststream"))
  }

  test("comments are stripped but '#' inside quoted values survives") {
    val yaml =
      """collections:
        |  - db_name: test   # trailing comment
        |    coll_name: c
        |    tokens_db_name: t
        |    tokens_coll_name: tc
        |    stream_name: "queue#prod"
        |""".stripMargin
    val res = Settings.parseCollections(yaml)
    assert(res.isRight, res)
    val c = res.toOption.get.head
    assert(c.watched.dbName === "test")
    assert(c.queue.streamName === "queue#prod")
  }

  test("missing required key is reported with the collection index") {
    val res = Settings.parseCollections(
      "collections:\n  - db_name: test\n    coll_name: c\n")
    assert(res.isLeft)
    assert(res.left.exists(_.contains("collections[0]")))
  }

  test("the shipped conf/config.sample.yaml parses to the documented shape") {
    // the README's bring-up recipe starts from this file — it must stay
    // parseable and exercise both the optional-flag and minimal forms
    val yaml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("conf/config.sample.yaml")), "UTF-8")
    val parsed = Settings.parseCollections(yaml)
    assert(parsed.isRight, s"sample config failed to parse: $parsed")
    val cs = parsed.toOption.get
    assert(cs.map(_.queue.streamName) === Vector("testqueue", "orderqueue"))
    assert(cs(0).watched.preAndPostImages === false)
    assert(cs(0).resumeTokens.capped === Some(true))
    assert(cs(0).resumeTokens.sizeInBytes === Some(1048576L))
    assert(cs(1).watched.preAndPostImages === true)
  }

  test("malformed boolean/long values are Lefts with context, not exceptions") {
    def base(extra: String) =
      s"""collections:
         |  - db_name: test
         |    coll_name: c
         |    tokens_db_name: test
         |    tokens_coll_name: t
         |    stream_name: s
         |    $extra
         |""".stripMargin
    val badBool = Settings.parseCollections(base("tokens_coll_capped: yes"))
    assert(badBool.isLeft, "yaml-ish 'yes' is not a Scala boolean — must be a Left")
    assert(badBool.left.exists(e => e.contains("tokens_coll_capped") && e.contains("yes")))
    val badLong = Settings.parseCollections(base("tokens_coll_size_in_bytes: 10MB"))
    assert(badLong.isLeft)
    assert(badLong.left.exists(e => e.contains("tokens_coll_size_in_bytes") && e.contains("10MB")))
  }
}
