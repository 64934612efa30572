package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.tools.Profile

/** Pins the profiling tool's output contract on the suite session: the
  * mode functions are called directly (its `main` builds a bench session,
  * and the codegen-cache size in that recipe is a static conf a running
  * session cannot take).
  */
class ProfileSpec extends SparkSpec {

  private val json = new ObjectMapper()

  test("time: one JSON line of positive min walls, ann_ivf_probe answered from an untimed build") {
    val lines = Profile.time(spark, Seq(sf0001, "1", "q6_agg", "ann_ivf_probe"))
    val walls = json.readTree(lines.head).path("walls")
    for (q <- Seq("q6_agg", "ann_ivf_probe"))
      assert(walls.path(q).asDouble(-1) > 0, s"$q wall in ${lines.head}")
    assert(json.readTree(lines.head).path("reps").asInt() === 1)
  }

  test("time: semantic_dedup emits the oracle override at the corpus-derived cell count") {
    val lines = Profile.time(spark, Seq(sf0001, "1", "semantic_dedup"))
    val cells = ops.Similarity.semanticCells(Tables.embeddings(spark, sf0001).count())
    val ov = lines.map(json.readTree).find(_.has("oracle_sql_overrides"))
      .getOrElse(fail(s"no override line in $lines"))
    assert(ov.path("derived_cells").asInt() === cells)
    assert(ov.path("oracle_sql_overrides").path("semantic_dedup").asText() ===
      SparkEntry.semanticDedupSql(cells))
  }

  test("plan: a deferred builder prints its inner physical plan, not the bare leaf") {
    val text = Profile.plan(spark, Seq(sf0001, "dup_clusters")).mkString("\n")
    assert(text.contains("== Physical Plan =="), text)
    assert(!text.contains("DeferredExec"), text)
    assert(text.contains("Exchange"), text)
  }

  test("an unknown query name fails with a message naming it") {
    for (mode <- Seq("time", "jobs", "plan")) {
      val args = if (mode == "time") Seq(sf0001, "1", "no_such_query") else Seq(sf0001, "no_such_query")
      val e = intercept[IllegalArgumentException](Profile.modes(mode)(spark, args))
      assert(e.getMessage.contains("no_such_query") && e.getMessage.contains("q6_agg"),
        s"$mode: ${e.getMessage}")
    }
  }

  test("floor: the AQE and shuffle-partition flips leave the session's conf as it was") {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val before = keys.map(spark.conf.get)
    val line = Profile.floor(spark, Seq(sf0001, "1")).head
    val probe = json.readTree(line).path("floor_probe")
    assert(probe.size() === 9 && probe.path("scan_groupby_p8").asDouble(-1) > 0 &&
      probe.path("table_load").asDouble(-1) > 0 && probe.path("epoch_write").asDouble(-1) > 0, line)
    assert(keys.map(spark.conf.get) === before)
  }
}
