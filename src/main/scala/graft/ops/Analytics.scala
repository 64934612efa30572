package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch analytics core — the headline bench queries.
  *
  * Design rules (SURVEY.md §4): money math is decimal-exact (sums of
  * decimal(18,2), cast to double only at the very end, which also makes the
  * DuckDB oracle agree bit-for-bit); dimension tables are broadcast
  * explicitly; filters are plain column predicates so they push into the
  * parquet scan; aggregates are hash aggregates with map-side partials.
  */
object Analytics {

  private def dec(c: String): Column = col(c).cast("decimal(18,2)")

  /** Integer-exact FLOOR division of an epoch-seconds expression, matching
    * DuckDB's `//` for negative epochs too — Spark's `div` truncates toward
    * zero, so `-1 div 86400` is 0 where the oracle floors to -1 (ADVICE r8:
    * pmod alone fixed the modulo's sign, not the division). Subtracting the
    * non-negative pmod remainder first makes the dividend an exact multiple,
    * where truncation and floor agree for either sign. Pure long math — no
    * double rounding at any epoch magnitude.
    */
  private def epochFloorDiv(divisor: Long): String =
    s"((cast(ts as long) - pmod(cast(ts as long), $divisor)) div $divisor)"

  /** C1 — pricing summary (TPC-H Q1 shape): scan-heavy single aggregation.
    * Partial aggregation happens map-side; the shuffle carries only
    * (flag,status) groups — 6 rows regardless of input size.
    */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
        sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount")))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order")
      )
      .orderBy("l_returnflag", "l_linestatus")

  /** C2 — shipping priority (TPC-H Q3 shape): selective filters pushed to
    * all three scans, then joins keyed on custkey/orderkey. customer and
    * orders are both fact-sized at 100 TB, so those join via shuffle-hash
    * on the keys (AQE picks SMJ/SHJ); no broadcast assumption is baked in.
    */
  def q3Join(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).where(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(spark, dir).where(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
    val li = Tables.lineitem(spark, dir).where(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
    cust.join(ord, cust("c_custkey") === ord("o_custkey"))
      .join(li, ord("o_orderkey") === li("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount")))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** C3 — local supplier volume (TPC-H Q5 shape): region (5 rows) and
    * nation (25) are tiny at EVERY scale and broadcast explicitly; supplier
    * is NOT — it grows with SF (10k×SF rows, ~1e9 at the 100 TB target), so
    * the supplier⋈dims chain keeps its keyed join and AQE decides its side
    * placement from runtime stats (at bench SF it broadcasts itself; at
    * scale it shuffles like the other fact-ish tables). Forcing
    * broadcast() around the supplier chain was a scale bomb this file's
    * own q3Join comment warns against.
    */
  def q5Join(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).where(col("r_name") === "ASIA")
    val nation = Tables.nation(spark, dir)
    val supp = Tables.supplier(spark, dir)
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
             col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)

    val dims =
      supp.join(broadcast(nation), supp("s_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))

    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(dims, li("l_suppkey") === dims("s_suppkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey") &&
                  cust("c_nationkey") === dims("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount")))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** C4 — per-user event windows: previous value, running decimal-exact
    * total, and seconds since the previous event. Single shuffle on the
    * high-cardinality user key.
    */
  def eventsWindow(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    // Explicit ROWS frame for the running total: the default RANGE frame
    // pays a peer-group scan per row; ROWS streams. Identical results —
    // event_id is unique within a user, so every row is its own peer group.
    val runningRows = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts"))
      .withColumn("prev_value", lag(col("value"), 1).over(byUser))
      .withColumn("running_total",
        sum(col("value").cast("decimal(18,2)")).over(runningRows).cast("double"))
      .withColumn("secs_since_prev",
        (col("ts").cast("long") - lag(col("ts"), 1).over(byUser).cast("long")))
      .select("event_id", "user_id", "event_type", "prev_value", "running_total", "secs_since_prev")
      .orderBy("event_id")
  }

  /** C6 — forecast revenue change (TPC-H Q6 shape): pure scan + filter +
    * 2-column aggregate. The whole predicate pushes into the parquet scan;
    * decimal-exact product sum.
    */
  def q6Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
             col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
             col("l_discount").between(0.05, 0.07) &&
             col("l_quantity") < 24)
      .agg(
        sum(dec("l_extendedprice") * dec("l_discount")).cast("double").as("revenue"),
        count(lit(1)).as("n_items")
      )

  /** C5 — top-K per group: 3 priciest parts per brand. Ranked window on the
    * group key; at scale Spark pushes a partial top-K below the shuffle
    * (WindowGroupLimit) so only K rows per group per mapper move.
    */
  def topkPerGroup(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val byBrand = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    Tables.part(spark, dir)
      .withColumn("price_rank", row_number().over(byBrand).cast("long"))
      .where(col("price_rank") <= k)
      .select("p_brand", "price_rank", "p_partkey", "p_name", "p_retailprice")
      .orderBy("p_brand", "price_rank")
  }

  /** C8 — hierarchical rollup: per-(lang, source) corpus volumes with
    * per-lang subtotals and a grand total in one pass (`ROLLUP`). Null
    * group keys surface as '<all>' so both engines order subtotal rows
    * identically. Two-phase like [[eventsCube]]: the fact scan collapses
    * to the detail (lang, source) grouping first (one map-side-combined
    * shuffle), and the ROLLUP's ×3 Expand runs over the ~|langs×sources|
    * aggregate instead of every document — exact for these algebraic
    * aggregates (counts and sums re-combine as sums).
    */
  def corpusRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("c"))
      .rollup(col("lang"), col("source"))
      .agg(grouping_id().cast("long").as("gid"),
        sum(col("n")).as("n_docs"),
        sum(col("c")).as("n_chars"))
      .select(
        coalesce(col("lang"), lit("<all>")).as("lang"),
        coalesce(col("source"), lit("<all>")).as("source"),
        col("gid"), col("n_docs"), col("n_chars"))
      .orderBy("gid", "lang", "source")

  /** C12 — multi-dimensional cube: event volumes and decimal-exact value
    * sums by (event_type, day-of-week), with all four grouping sets
    * (detail, per-type, per-dow, grand total) in ONE aggregation —
    * `CUBE` expands the sets map-side, so the shuffle still carries only
    * partial aggregates over a tiny key space. Day-of-week is integer
    * epoch math (`epoch_days + 4 mod 7`, 0 = Sunday) — identical on every
    * engine, where date-part functions disagree on week origin. Null group
    * keys surface as sentinels ('<all>' / -1) and an explicit grouping id
    * keeps cross-engine ordering deterministic.
    */
  def eventsCube(spark: SparkSession, dir: String): DataFrame = {
    // TWO-PHASE cube: collapse the fact table to the detail grouping
    // (event_type, dow) FIRST, then cube the tiny aggregate re-combining
    // with sum()s — exact for these algebraic aggregates (a cube cell is
    // the sum of its detail cells; count re-enters as sum of counts, the
    // decimal sums add losslessly). Cubing the raw scan instead would run
    // its Expand ×4 over every fact row BEFORE partial aggregation — the
    // shuffle stays small either way, but the map-side hash does 4× the
    // fact volume in CPU (measured 2× the whole wall at 50×); here the
    // Expand touches |types|×|dows| rows. The detail pre-aggregate is the
    // same one-shuffle map-side-combined groupBy every scan-shaped
    // aggregate here pays, and the cube's second exchange moves ~35 rows.
    val detail = Tables.events(spark, dir)
      // pmod keeps dow in 0..6 even for pre-1970 timestamps (plain % would
      // emit -6..0 there and a real dow=-1 would collide with the cube's
      // subtotal sentinel below); identical to % for all non-negative
      // epochs, so the oracle hash is unchanged on real data
      .withColumn("dow", expr(s"pmod(${epochFloorDiv(86400)} + 4, 7)"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("v"))
    detail
      .cube(col("event_type"), col("dow"))
      .agg((grouping(col("event_type")) * 2 + grouping(col("dow"))).cast("long").as("gid"),
        sum(col("n")).as("n_events"),
        sum(col("v")).cast("double").as("sum_value"))
      .select(
        coalesce(col("event_type"), lit("<all>")).as("event_type"),
        coalesce(col("dow"), lit(-1L)).as("dow"),
        col("gid"), col("n_events"), col("sum_value"))
      .orderBy("gid", "event_type", "dow")
  }

  /** C51 — daily event-type matrix (PIVOT shape): per day, one column per
    * event type — the wide dashboard/export form of the long (day, type)
    * aggregate, the shape BI tools and spreadsheet handoffs consume
    * without a client-side reshape. The board's one relational PIVOT
    * (cube/rollup emit long-form subtotals; this emits wide-form columns).
    *
    * Scale shape: `pivot` is called with the EXPLICIT type inventory —
    * value-less pivot pays an extra distinct-collect job over the fact
    * table just to discover column names, and its output schema becomes
    * data-dependent (a schema decided by a scan is an operational hazard
    * at 100 TB: a corrupt row mints a column). With explicit values Spark
    * compiles the pivot to ONE two-level aggregate whose shuffle carries
    * |days| × (|types|+1) counters — no second pass. The row total sums
    * the pivoted columns (NOT count(*)): with a fixed inventory they are
    * equal, and if an unknown type ever appears the pivot drops it while
    * count(*) would silently include it — summing columns keeps the row
    * internally consistent in both engines.
    */
  def dailyTypeMatrix(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val wide = Tables.events(spark, dir)
      .withColumn("day", expr(epochFloorDiv(86400)))
      .groupBy(col("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
    types.foldLeft(wide)((df, t) => df.withColumnRenamed(t, s"n_$t"))
      .withColumn("n_total", types.map(t => col(s"n_$t")).reduce(_ + _))
      .orderBy("day")
  }

  /** C13 — cohort retention: users grouped by first-activity week, counted
    * in each subsequent week they return. ONE full-data shuffle: the
    * per-user week set aggregates directly on the user key (set partials
    * union map-side, so raw events collapse before the exchange; the set
    * is bounded by weeks-of-history, not activity volume), the cohort
    * week is `array_min` of that set — no separate distinct pass, no
    * min-window, no self-join — and the final count is a partial-
    * aggregated groupBy on the tiny (cohort, offset) key space. Weeks are
    * integer epoch weeks — engine-exact, no calendar-week-origin
    * disagreement.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), expr(epochFloorDiv(604800)).as("week"))
      .groupBy("user_id").agg(collect_set(col("week")).as("weeks"))
      .select(array_min(col("weeks")).as("cohort_week"), explode(col("weeks")).as("week"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("weeks_since"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "weeks_since")

  /** C14 — ordered funnel: how many users progressed view → click →
    * purchase IN ORDER (each stage at or after the previous stage's first
    * completion). One shuffle on user_id; the three stage timestamps are
    * sequential min-windows over the same partitioning (each references
    * the previous stage's materialized column — Spark stacks the Window
    * operators on one exchange). The stage values are constant per user,
    * so the count collapses to one row per user ON that same exchange
    * (dropDuplicates keys on user_id — no new shuffle, unlike a 4-way
    * countDistinct whose Expand would re-shuffle 4× the event rows) and a
    * single-row global aggregate counts non-null stages.
    */
  def funnelCounts(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("v1", min(when(col("event_type") === "view", col("ts"))).over(byUser))
      .withColumn("c1", min(when(col("event_type") === "click" && col("ts") >= col("v1"),
        col("ts"))).over(byUser))
      .withColumn("p1", min(when(col("event_type") === "purchase" && col("ts") >= col("c1"),
        col("ts"))).over(byUser))
      .select(col("user_id"), col("v1"), col("c1"), col("p1"))
      .dropDuplicates("user_id")
      .agg(
        count(lit(1)).as("n_users"),
        count(col("v1")).as("n_viewed"),
        count(col("c1")).as("n_clicked_after_view"),
        count(col("p1")).as("n_purchased_after_click"))
  }

  /** C13b — cohort LTV curve: per signup-week cohort, cumulative purchase
    * revenue per user by cohort age — the growth-analytics companion to
    * C13's retention (retention counts who came back; LTV prices what they
    * did). Revenue stays decimal(18,2) through BOTH the weekly aggregate
    * and the cumulative window, so the running sum is order-proof and
    * engine-exact; doubles appear only in the final display columns. The
    * cumulative window partitions by cohort over the (cohort, age)
    * AGGREGATE — weeks-cardinality rows, never events.
    */
  def ltvCohorts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        expr(epochFloorDiv(604800)).as("week"))
    val cohorts = ev.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    val weekly = ev.where(col("event_type") === "purchase")
      .join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("weeks_since"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("rev_dec"))
    val sizes = cohorts.groupBy("cohort_week").agg(count(lit(1)).as("cohort_users"))
    val cum = Window.partitionBy("cohort_week").orderBy("weeks_since")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    weekly
      .withColumn("cum_dec", sum(col("rev_dec")).over(cum))
      .join(broadcast(sizes), Seq("cohort_week"))
      .select(col("cohort_week"), col("weeks_since"), col("cohort_users"),
        col("rev_dec").cast("double").as("revenue"),
        col("cum_dec").cast("double").as("cum_revenue"),
        round(col("cum_dec").cast("double") / col("cohort_users"), 6).as("ltv_per_user"))
      .orderBy("cohort_week", "weeks_since")
  }

  /** C14b — deadline funnel: C14's ordered view → click → purchase funnel
    * with a CONVERSION WINDOW — each stage must complete within `windowSec`
    * of the previous stage's first completion, the form growth teams
    * actually report ("purchased within 3 days of clicking"). Identical
    * stacked-window shape as C14 (three sequential min-windows on ONE
    * user_id exchange, per-user constants collapsed by dropDuplicates on
    * the same exchange, one global count row); the deadline is an
    * integer-seconds comparison on the epoch, exact on both engines.
    */
  def funnelWindowed(spark: SparkSession, dir: String,
                     windowSec: Long = 259200L): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    def within(prev: Column) =
      col("ts") >= prev && col("ts").cast("long") <= prev.cast("long") + windowSec
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("v1", min(when(col("event_type") === "view", col("ts"))).over(byUser))
      .withColumn("c1", min(when(col("event_type") === "click" &&
        within(col("v1")), col("ts"))).over(byUser))
      .withColumn("p1", min(when(col("event_type") === "purchase" &&
        within(col("c1")), col("ts"))).over(byUser))
      .select(col("user_id"), col("v1"), col("c1"), col("p1"))
      .dropDuplicates("user_id")
      .agg(
        count(lit(1)).as("n_users"),
        count(col("v1")).as("n_viewed"),
        count(col("c1")).as("n_clicked_in_window"),
        count(col("p1")).as("n_purchased_in_window"))
  }

  /** C16 — trailing-window trend: daily event revenue with a TRUE 7-day
    * trailing average — a RANGE frame over integer epoch days, so gap days
    * shrink the window (a ROWS frame would silently average the last 7
    * OBSERVATIONS instead). Day totals partial-aggregate map-side to one
    * row per day before the window; the window itself runs on that tiny
    * per-day table. Average is decimal-exact sum / exact count, divided
    * once in double — engine-exact.
    */
  def dailyTrend(spark: SparkSession, dir: String): DataFrame = {
    val trailing7 = Window.orderBy(col("day")).rangeBetween(-6, 0)
    Tables.events(spark, dir)
      .where(col("event_type") === "purchase")
      .groupBy(expr(epochFloorDiv(86400)).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("rev"), count(lit(1)).as("n"))
      .select(col("day"), col("rev").cast("double").as("revenue"), col("n").as("n_purchases"),
        round(sum(col("rev")).over(trailing7).cast("double") /
          sum(col("n")).over(trailing7).cast("double"), 6).as("avg_purchase_7d"))
      .orderBy("day")
  }

  /** C18 — rolling active users (WAU): distinct users over the trailing
    * 7 days, for every day with data. Rolling DISTINCT does not decompose
    * like a rolling sum, so the shape is a CONTRIBUTION EXPLODE: the
    * (user, day) activity grid (map-side-collapsed distinct) emits one row
    * per window it belongs to (7 rows, a fixed fan-out — not a 7-way
    * self-join, not a per-day re-scan), then one distinct-count per window
    * day (two-level partial aggregation). Windows are anchored to days
    * that actually occur (semi-join against the day set — days are
    * year-cardinality, broadcast at any scale).
    */
  def rollingActiveUsers(spark: SparkSession, dir: String, windowDays: Int = 7): DataFrame = {
    val grid = Tables.events(spark, dir)
      .select(col("user_id"), expr(epochFloorDiv(86400)).as("day"))
      .distinct()
    val days = grid.select("day").distinct()
    grid
      .select(col("user_id"), col("day").as("active_day"),
        explode(sequence(col("day"), col("day") + (windowDays - 1))).as("day"))
      .join(broadcast(days), Seq("day")) // only windows ending on a real day
      .groupBy("day")
      .agg(countDistinct(col("user_id")).as(s"active_${windowDays}d"))
      .orderBy("day")
  }

  /** C17 — anti-join audience: viewers with NO high-value purchase
    * (value > minValue) — the unconverted-audience query. The view side
    * partial-aggregates to one row per user BEFORE the anti join, so the
    * join carries user-cardinality rows, not event-cardinality; left-anti
    * hash join broadcast- or shuffle-hashes on the key like any equi-join
    * — no NOT IN subquery nest-loop.
    */
  def viewersNoPurchase(spark: SparkSession, dir: String,
                        minValue: Double = 90.0): DataFrame = {
    val ev = Tables.events(spark, dir)
    val views = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(count(lit(1)).as("n_views"))
    val whales = ev.where(col("event_type") === "purchase" && col("value") > minValue)
      .select("user_id").distinct()
    views.join(whales, Seq("user_id"), "left_anti")
      .orderBy("user_id")
  }

  /** C15 — distinct cardinality per group (exact): unique users per event
    * type. A single distinct aggregate plans as two-level aggregation
    * (partial dedupe of (type, user) map-side, then count) — no Expand.
    * Exact distinct is the oracle anchor; [[distinctUsersApprox]] is the
    * one-pass sketch variant a 100 TB job runs.
    */
  def distinctUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** C15b — the mergeable-sketch variant of [[distinctUsers]]:
    * `approx_count_distinct` (HyperLogLog++, fixed-size sketch, partials
    * merge map-side — one pass, no dedupe shuffle, corpus-size-independent
    * memory). Registered rows-only: HLL's estimate is engine-specific, so
    * no bit-exact cross-engine oracle exists; RelevanceSpec instead bounds
    * the relative error against the exact counts at the configured rsd.
    */
  def distinctUsersApprox(spark: SparkSession, dir: String,
                          rsd: Double = 0.02): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), rsd).as("n_users_approx"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** C15c — STORED-SKETCH rollup (r16): per-day DataSketches HLL sketches
    * built ONCE, then any coarser range (here ISO weeks) answered by
    * MERGING the daily sketches — `hll_union_agg` over sketch BYTES, never
    * a rescan of the events. This is the production incremental-distinct
    * pattern at 100 TB: the per-day sketch table is the persisted artifact
    * (KBs per day regardless of event volume; a D22 append chain maintains
    * it per D24's discipline), and every ad-hoc range query costs
    * |days-in-range| sketch merges instead of a corpus scan — the
    * capability `approx_count_distinct` (one-shot, C15b) cannot compose
    * into. Output per week: days merged, merged-estimate DAU... WAU, with
    * the summed daily estimates alongside (their gap = cross-day repeat
    * visitors, readable directly from the sketch table).
    *
    * Registered rows-only BY DESIGN: DataSketches HLL estimates are
    * engine-specific bytes with no DuckDB equivalent; AnalyticsSketchSpec
    * bounds the merged estimate against the exact weekly distinct at the
    * sketch's documented rsd (lgK 12 ≈ 1.6% ·5 safety, the C15b precedent)
    * and pins merge-vs-direct-build agreement.
    */
  def sketchDauRollup(spark: SparkSession, dir: String, lgK: Int = 12): DataFrame = {
    val byDay = Tables.events(spark, dir)
      .select(col("user_id"), expr(epochFloorDiv(86400)).as("day"))
      .groupBy("day")
      .agg(hll_sketch_agg(col("user_id"), lit(lgK)).as("sk"),
        count(lit(1)).as("n_events"))
      // the persisted artifact: (day, sketch-bytes, volume) — at 100 TB
      // this table is what survives; everything below reads only it
      .persist()
    byDay
      .withColumn("week", expr("day div 7"))
      .groupBy("week")
      .agg(count(lit(1)).as("days_merged"),
        sum(col("n_events")).as("n_events"),
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("wau_est"),
        sum(hll_sketch_estimate(col("sk"))).as("sum_daily_dau_est"))
      .select(col("week"), col("days_merged"), col("n_events"), col("wau_est"),
        col("sum_daily_dau_est"),
        (col("sum_daily_dau_est") - col("wau_est")).as("repeat_visits_est"))
      .orderBy("week")
  }

  /** C9 — distribution stats: EXACT token-count percentiles per language
    * (p25/p50/p90/p99, linear interpolation — the same definition as
    * SQL `quantile_cont`, so the oracle agrees bit-for-bit). Exact
    * percentile sorts within each group; at 100 TB the production variant
    * swaps in `percentile_approx` (mergeable sketches, one pass, no sort) —
    * same shape, bounded error, and the swap is a one-line change.
    */
  def tokenPercentiles(spark: SparkSession, dir: String): DataFrame =
    percentilesByLang(spark, dir, ps => s"percentile(ntok, array(${ps.mkString(", ")}))")

  /** Shared scaffold for the exact and sketch percentile variants: only the
    * aggregate expression differs, so only it varies — the quantile list,
    * projection, and rounding can't drift between the two.
    */
  private def percentilesByLang(spark: SparkSession, dir: String,
                                agg: Seq[Double] => String): DataFrame = {
    val ps = Seq(0.25, 0.5, 0.9, 0.99)
    Tables.documents(spark, dir)
      .withColumn("ntok", size(split(col("text"), " ")).cast("double"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), expr(agg(ps)).as("pct"))
      .select(col("lang") +: col("n_docs") +:
        ps.zipWithIndex.map { case (p, i) =>
          round(element_at(col("pct"), i + 1), 6).as(s"p${(p * 100).toInt}")
        }: _*)
      .orderBy("lang")
  }

  /** C9b — the one-pass 100 TB variant of [[tokenPercentiles]]:
    * `percentile_approx` (Greenwald-Khanna mergeable sketches — partial
    * sketches combine map-side, no per-group sort, bounded rank error
    * n/accuracy). Registered rows-only: the sketch returns an engine-specific
    * order statistic, not `quantile_cont` interpolation, so there is no
    * bit-exact cross-engine oracle — OpsSpec instead asserts each approx
    * value's RANK in the group stays within the published error bound of the
    * exact percentile's rank.
    */
  def tokenPercentilesApprox(spark: SparkSession, dir: String,
                             accuracy: Int = 10000): DataFrame =
    percentilesByLang(spark, dir,
      ps => s"percentile_approx(ntok, array(${ps.mkString(", ")}), $accuracy)")

  /** C19 — event-transition matrix: per-user next-event analysis — for every
    * ordered (prev, next) event-type pair, the corpus-wide transition count
    * and row-normalized probability p(next | prev). The first-order-Markov
    * view of user behavior: "after a view, 12% purchase" is the product
    * question sessionization and funnels don't answer directly.
    *
    * Scale shape: ONE shuffle on the user key for the lag window (the same
    * exchange eventsWindow pays; (ts, event_id) is a total order so the lag
    * is deterministic), then a partial-aggregated groupBy on the tiny
    * (prev, next) key space — ≤ |event_types|² rows — and a window over
    * that bounded frame for the row normalization. The probability is one
    * integer-ratio double divide, engine-exact.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val byPrev = Window.partitionBy(col("prev_type"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prob",
        round(col("n").cast("double") / sum(col("n")).over(byPrev), 6))
      .orderBy("prev_type", "next_type")
  }

  /** C24 — event-volume anomaly detection: per (event_type, day), the
    * z-score of the day's event count against the PRECEDING `window` days'
    * baseline (current day excluded, so a spike can't inflate its own
    * baseline) — the ops-dashboard "did clicks spike today?" alarm. Days
    * with fewer than `minBaseline` preceding observations, or a
    * zero-variance baseline, report a null z (no evidence ≠ no anomaly).
    *
    * Engine-exactness: counts are integers, so the windowed s/ss sums are
    * EXACT doubles regardless of summation order, and mean/variance/z are
    * fixed chains of correctly-rounded ops — identical bits on both
    * engines, no ln/exp budget needed. Variance uses the (ss − s²/n)/(n−1)
    * sum-of-squares form precisely because it is such a chain; the
    * engines' own stddev aggregates (one-pass M2) would differ in the
    * last ulp.
    *
    * Scale shape: the (type, day) pre-aggregation collapses map-side to
    * types×days rows; the RANGE window partitions by event_type over
    * integer days — bounded by days-of-history per type, never by event
    * volume.
    */
  def eventAnomalies(spark: SparkSession, dir: String, window: Int = 7,
                     minBaseline: Int = 3, zThreshold: Double = 3.0): DataFrame = {
    val trailing = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rangeBetween(-window, -1)
    Tables.events(spark, dir)
      .groupBy(col("event_type"), expr(epochFloorDiv(86400)).as("day"))
      .agg(count(lit(1)).cast("double").as("x"))
      .withColumn("n", count(col("x")).over(trailing).cast("double"))
      .withColumn("s", sum(col("x")).over(trailing))
      .withColumn("ss", sum(col("x") * col("x")).over(trailing))
      // guard BEFORE dividing: n=0 (no baseline) and n=1 (zero denominator)
      // must yield null variance, not an ANSI divide-by-zero
      .withColumn("variance",
        when(col("n") >= 2,
          (col("ss") - col("s") * col("s") / col("n")) / (col("n") - 1)))
      .withColumn("z",
        when(col("n") >= minBaseline && col("variance") > 0,
          round((col("x") - col("s") / col("n")) / sqrt(col("variance")), 6)))
      .select(col("event_type"), col("day"),
        col("x").cast("long").as("n_events"),
        col("n").cast("long").as("baseline_days"),
        col("z"), (col("z") >= zThreshold).as("spike"))
      .orderBy("event_type", "day")
  }

  /** C22 — last-touch marketing attribution: every purchase attributed to
    * the SAME user's most recent preceding view/click within `maxWaitSecs`
    * — the question ad-spend reporting actually asks, which funnels
    * (ordered global stages) and sessionization (gap windows) don't answer
    * per purchase. Purchases whose latest touch is older than the window
    * (or who have none) keep a row with null attribution — unattributed
    * revenue is a reported number, not a dropped row.
    *
    * Shape: ONE user-key exchange; the carry-forward is
    * `last(..., ignoreNulls) OVER (user ORDER BY ts, event_id)` — the
    * same no-join carry-forward trick as the as-of join (C10), so there is
    * no range join and no per-key pair explosion; (ts, event_id) is a
    * total order so the window is deterministic; the horizon check is
    * integer epoch-second math, engine-exact. Only the THREE participating
    * event types enter the plan (r18, VERDICT r17 #4): every other type
    * contributes nothing to the carry-forward (its `when` is null) and
    * never reaches the output, so the type filter is semantics-free and
    * pushes to the scan — the user-key exchange carries view/click/
    * purchase rows instead of the whole event stream.
    */
  def lastTouchAttribution(spark: SparkSession, dir: String,
                           maxWaitSecs: Long = 7L * 86400L): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    def touch(c: Column): Column =
      last(when(col("event_type").isin("view", "click"), c), ignoreNulls = true).over(byUser)
    val inWindow = col("tss") - col("m_tss") <= maxWaitSecs
    Tables.events(spark, dir)
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
        col("ts").cast("timestamp").cast("long").as("tss"))
      .withColumn("m_id", touch(col("event_id")))
      .withColumn("m_type", touch(col("event_type")))
      .withColumn("m_tss", touch(col("tss")))
      .where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        when(inWindow, col("m_id")).as("touch_id"),
        when(inWindow, col("m_type")).as("touch_type"),
        when(inWindow, col("tss") - col("m_tss")).as("secs_since_touch"))
      .orderBy("purchase_id")
  }

  /** C21 — RFM customer segmentation over the orders fact table: per
    * customer, Recency (days from last order to the corpus's latest order —
    * integer epoch-day math, engine-exact), Frequency (order count),
    * Monetary (decimal-exact revenue), each scored into quintiles 1-5 and
    * combined into the `rfm_cell` every CRM playbook keys on (555 =
    * recent+frequent+big spender).
    *
    * Quintile boundaries are percentile CUTOFFS (the same cross-engine-exact
    * `percentile`/`quantile_cont` contract as C9) attached as a 1-row
    * broadcast, NOT an `ntile` window — ntile globally sorts all customers
    * in one partition, the single-partition-window anti-pattern (§4); the
    * cutoff form is a scan-speed comparison. Score ties sit ON a cutoff →
    * the lower bucket, closed-comparison convention as pplBuckets. Recency
    * scores INVERT (smaller days-since = higher score). Exact percentile
    * buffers the customer-cardinality aggregate — the documented C9 trade;
    * `percentile_approx` is the fact-scale swap.
    */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame =
    rfmSegmentsWith(spark, dir,
      (c, ps) => s"percentile($c, array(${ps.mkString(", ")}))")

  /** C21b — the one-pass 100 TB variant of [[rfmSegments]]:
    * `percentile_approx` cutoffs (Greenwald-Khanna mergeable sketches —
    * partials combine map-side, so the cutoff aggregate never buffers the
    * customer population in one task the way exact `percentile` does; at
    * fact scale that single reducer is the plan's only scale hazard).
    * Registered rows-only, the C9/C15 sketch-sibling pattern: the sketch
    * returns an engine-specific order statistic, so no bit-exact
    * cross-engine oracle exists — RelevanceSpec instead bounds every
    * approx-vs-exact score disagreement to customers whose metric sits
    * inside the sketch's published rank-error window of a quintile cutoff.
    */
  def rfmSegmentsApprox(spark: SparkSession, dir: String,
                        accuracy: Int = 10000): DataFrame =
    rfmSegmentsWith(spark, dir,
      (c, ps) => s"percentile_approx($c, array(${ps.mkString(", ")}), $accuracy)")

  /** Shared scaffold for the exact and sketch RFM variants: only the cutoff
    * aggregate expression differs, so only it varies — the quintile list,
    * scoring direction, and cell composition can't drift between the two
    * (the percentilesByLang discipline).
    */
  private def rfmSegmentsWith(spark: SparkSession, dir: String,
                              pctAgg: (String, Seq[Double]) => String): DataFrame = {
    val ps = Seq(0.2, 0.4, 0.6, 0.8)
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(
        // o_orderdate ships as TIMESTAMP_NTZ — route through TIMESTAMP for
        // the epoch cast (session tz is UTC; any constant offset cancels in
        // the recency difference anyway)
        max(col("o_orderdate").cast("timestamp").cast("long")).as("last_epoch"),
        count(lit(1)).as("frequency"),
        sum(dec("o_totalprice")).cast("double").as("monetary"))
    val anchor = perCust.agg(max(col("last_epoch")).as("max_epoch"))
    val base = perCust.crossJoin(broadcast(anchor))
      .withColumn("recency_days",
        ((col("max_epoch") - col("last_epoch")) / lit(86400L)).cast("long"))
      .select(col("custkey"), col("recency_days"), col("frequency"), col("monetary"))
    def pct(c: String) = pctAgg(c, ps)
    val cuts = base.agg(
      expr(pct("recency_days")).as("rc"),
      expr(pct("frequency")).as("fc"),
      expr(pct("monetary")).as("mc"))
    def scoreUp(v: Column, cutsCol: Column): Column =
      ps.indices.map(i => when(v > element_at(cutsCol, i + 1), 1L).otherwise(0L))
        .reduce(_ + _) + 1L
    def scoreDown(v: Column, cutsCol: Column): Column =
      ps.indices.map(i => when(v < element_at(cutsCol, i + 1), 1L).otherwise(0L))
        .reduce(_ + _) + 1L
    base.crossJoin(broadcast(cuts))
      .select(col("custkey"), col("recency_days"), col("frequency"),
        col("monetary"),
        scoreDown(col("recency_days").cast("double"), col("rc")).as("r_score"),
        scoreUp(col("frequency").cast("double"), col("fc")).as("f_score"),
        scoreUp(col("monetary"), col("mc")).as("m_score"))
      .withColumn("rfm_cell",
        col("r_score") * 100L + col("f_score") * 10L + col("m_score"))
      .orderBy("custkey")
  }

  /** C32 — inter-purchase interval statistics: the gap distribution between
    * a user's consecutive purchases (repeat-buyer cadence) — the number
    * replenishment marketing, churn models, and LTV forecasts all key on,
    * and one neither retention cohorts (calendar-bucketed) nor funnels
    * (ordered one-shot) expose.
    *
    * Shapes: the purchase filter pushes into the scan; one user-key window
    * produces the lag stream (intervals, not events, survive it); the
    * summary collapses to one row — mean from exact integer-second sums,
    * p50/p90 via the C9 exact-percentile contract (buffers interval
    * cardinality — repeat-purchase counts, not event volume; the
    * fact-scale swap is the REGISTERED sibling [[purchaseIntervalsApprox]],
    * not a prose promise).
    */
  def purchaseIntervals(spark: SparkSession, dir: String): DataFrame =
    purchaseIntervalsWith(spark, dir, "percentile(gap_s, array(0.5D, 0.9D))")

  /** C32b — the one-pass 100 TB variant of [[purchaseIntervals]]:
    * `percentile_approx` (mergeable Greenwald-Khanna sketches) for the
    * gap quantiles. The exact variant's final one-row aggregate buffers
    * EVERY repeat-purchase interval in a single task — the one measured
    * non-converging crossover family (r11: both engines grew ~5× on 50×
    * data at a constant ~31× ratio) and this plan's only fact-scale
    * hazard; the sketch swap makes the reduce a fixed-size merge.
    * Registered rows-only (the C9/C15 sketch-sibling pattern: the sketch
    * returns an engine-specific order statistic, no bit-exact cross-engine
    * oracle); RelevanceSpec bounds the approx quantiles' RANK among the
    * true gap population within the published n/accuracy error.
    *
    * Sketch-cost discipline (measured at 50× in CROSSOVER.json): ONE
    * array-percentile sketch serves both quantiles (two scalar calls build
    * two sketches and pay per-row GK compression twice), and the summary
    * aggregate contains NO distinct aggregate — `count_distinct` would
    * trigger Catalyst's distinct rewrite, which partial-aggregates the
    * sketch PER USER and then merges one sketch per repeat buyer (~5×
    * slower than the exact buffer at 50×, the opposite of the swap's
    * point). repeat_users instead counts first-intervals: a second `lag`
    * on the window the gap already pays for marks the row where
    * `lag(s,2)` is null — exactly one such row per repeat buyer.
    */
  def purchaseIntervalsApprox(spark: SparkSession, dir: String,
                              accuracy: Int = 10000): DataFrame =
    purchaseIntervalsWith(spark, dir,
      s"percentile_approx(gap_s, array(0.5D, 0.9D), $accuracy)")

  /** Shared scaffold for the exact and sketch interval variants: only the
    * quantile aggregate expression (an ARRAY percentile over [0.5, 0.9] —
    * one buffer serves both cuts) differs, so only it varies — the
    * purchase filter, lag window, and summary columns can't drift between
    * the two (the percentilesByLang discipline). repeat_users counts
    * first-intervals (`lag(s,2)` null on a surviving gap row) instead of
    * `count_distinct(user_id)`: same value — each repeat buyer has exactly
    * one first interval — but it keeps the one-row collapse free of the
    * distinct-aggregate rewrite, which would partial-aggregate the
    * percentile buffer per user and merge one buffer per repeat buyer
    * (measured 6-9× on the sketch variant at 50×; see C32b's scaladoc).
    */
  private def purchaseIntervalsWith(spark: SparkSession, dir: String,
                                    quantiles: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    Tables.events(spark, dir)
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts").cast("long").as("s"))
      .withColumn("gap_s", col("s") - lag(col("s"), 1).over(byUser))
      .withColumn("first_gap", lag(col("s"), 2).over(byUser).isNull)
      .where(col("gap_s").isNotNull)
      .agg(
        count(when(col("first_gap"), lit(1))).as("repeat_users"),
        count(lit(1)).as("n_intervals"),
        round(sum(col("gap_s")).cast("double") / count(lit(1)) / 3600.0, 6).as("mean_hours"),
        expr(quantiles).as("qs"))
      .select(col("repeat_users"), col("n_intervals"), col("mean_hours"),
        round(col("qs").getItem(0) / 3600.0, 6).as("p50_hours"),
        round(col("qs").getItem(1) / 3600.0, 6).as("p90_hours"))
  }

  /** C31 — new vs returning daily actives: per day, distinct active users
    * split into first-ever-seen ("new") and returning — the growth-
    * accounting decomposition every DAU chart needs (a flat DAU hiding
    * 100% churn+acquisition and a healthy retained base read identically
    * without it).
    *
    * Shapes: the (user, day) activity set collapses map-side FIRST (event
    * volume → user-day cardinality); each user's first day is one more
    * partial-aggregated groupBy on the same key (no window over a user's
    * full history — the two-aggregate formulation shuffles (user, day)
    * pairs once and user rows once); the flag join is user-keyed; the day
    * report is calendar cardinality.
    */
  def newVsReturning(spark: SparkSession, dir: String): DataFrame = {
    val userDays = Tables.events(spark, dir)
      .select(col("user_id"), expr(epochFloorDiv(86400)).as("day"))
      .distinct()
    val firstDay = userDays.groupBy("user_id").agg(min(col("day")).as("first_day"))
    userDays.join(firstDay, Seq("user_id"))
      .groupBy("day")
      .agg(count(lit(1)).as("active_users"),
        sum((col("day") === col("first_day")).cast("long")).as("new_users"))
      .select(col("day"), col("active_users"), col("new_users"),
        (col("active_users") - col("new_users")).as("returning_users"),
        round((col("active_users") - col("new_users")).cast("double") /
          col("active_users"), 6).as("returning_frac"))
      .orderBy("day")
  }

  /** C29 — market-basket affinity: part pairs co-ordered more often than
    * chance, ranked by support then lift — the retail "bought together"
    * workload over the order/lineitem fact (B28 mines the same lift
    * statistic over text bigrams; this is the transactional shape: pairs
    * form WITHIN a basket via a key-equi self-join, not by adjacency).
    *
    * Scale shapes: baskets dedup to distinct (order, part) FIRST
    * (map-side); the self-join meets rows only on a shared ORDER key, so
    * per-key width is basket size — bounded by order economics, not
    * corpus size (the classic market-basket bound); `minSupport` prunes
    * the pair table before any ranking. Part frequencies (c1/c2) join
    * onto the PRUNED pair aggregate — after the groupBy + minSupport cut,
    * so the frequency joins carry only surviving pairs, a strictly
    * smaller frame than attaching frequencies to every basket row
    * pre-pairing would shuffle. The frequency
    * join stays un-hinted (part cardinality is fact-scale at 100 TB — AQE
    * decides); the order-count scalar is a 1-row broadcast attach and
    * the final top-k is TakeOrdered. Lift casts to double BEFORE
    * multiplying — B28's documented long-overflow guard.
    */
  def basketAffinity(spark: SparkSession, dir: String,
                     minSupport: Int = 3, k: Int = 50): DataFrame = {
    // ONE wide exchange total (r16; the r15 shape paid a distinct exchange
    // PLUS an orderkey self-join that shuffled + sorted the frame twice):
    // fold each basket straight to its sorted distinct-part array
    // (collect_set dedups in the aggregation buffer — the separate
    // distinct() pass folds away), then everything derives from the cached
    // 1-row-per-order frame: order count is its count, part frequency is a
    // small explode+agg, and ordered pairs explode MAP-SIDE — p2 ranges
    // over the strictly-later slice of the sorted array, so p1 < p2 by
    // construction and each unordered pair appears exactly once, the
    // self-join's multiset bit-for-bit. Per-basket explode is quadratic in
    // basket size — the same order-economics bound the join had.
    val basketArr = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy("l_orderkey").agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .persist() // feeds order count, part frequencies, and the pair explode
    val nOrders = basketArr.agg(count(lit(1)).as("n_orders"))
    basketLift(basketArr, nOrders, minSupport, k)
  }

  /** C29b — basket affinity over the TOP-`topParts` catalog head (r17,
    * VERDICT r16 #3): the ≤2× sibling for [[basketAffinity]]'s adjudicated
    * inherent-work profile (5.98M exploded pairs landing in 5.98M distinct
    * groups — zero aggregate collapse available to ANY engine; measured
    * 5.37× at 50×). The full query's cost is the pair-table exchange
    * itself, so the only lever that shrinks work rather than shuffling it
    * differently is pruning the candidate space — and the retail read is
    * the head anyway ("what sells together" among parts that sell).
    *
    * The prune is Apriori-shaped but by CATALOG HEAD, not support: keep
    * only the `topParts` highest-frequency parts (by raw lineitem row
    * count — one map-side-combined catalog-cardinality aggregate; tie →
    * lower partkey), prune the FACT ROWS to that set at scan time, and
    * only then fold baskets and pair. The prune sits BELOW the basket
    * groupBy — the r17a draft filtered the basket ARRAYS after folding
    * them, which left the wide collect_set exchange carrying the full
    * fact table (measured at 50×: no gain over the exact sibling; the
    * exchange, not the pair space, is the cost). Here the wide exchange
    * carries only head-part rows (0.8% of the fact at the 50× corpus)
    * and the candidate space is ≤ topParts²/2 distinct pairs REGARDLESS
    * of corpus size. Deterministic end to end (exact counts, total tie
    * order), so the DuckDB oracle replays it exactly — this sibling is
    * hash-gated, not rows-only.
    *
    * Lift stays comparable with the exact sibling: n_orders is the
    * FULL-corpus distinct-order count, and c1/c2 are full-corpus
    * distinct-order frequencies — exact for head parts because every
    * occurrence of a head part survives the prune.
    *
    * The top-part set collects to the driver (≤ topParts longs — the
    * documented bounded-collect class, like the IVF centroid matrices)
    * and rides into the fact filter as an IN-set literal: membership is a
    * scan-side hash probe, zero joins touched by the fact table.
    *
    * Fact-scan accounting (r18, VERDICT r17 #5): the two catalog
    * statistics (top-part head, full-corpus distinct-order count) and the
    * basket fold all read ONE persisted two-column fact frame — the r17
    * shape paid three separate parquet scans of the fact table (top-set
    * job, n_orders job, basket build), which at 50× was most of the
    * residual 2.5 s wall the verdict asked to account for.
    */
  def basketAffinityTop(spark: SparkSession, dir: String,
                        minSupport: Int = 3, k: Int = 50,
                        topParts: Int = 500): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey"))
      .persist() // feeds top-set, n_orders, and the basket fold; Caches.clear releases
    val top = li.groupBy("l_partkey").agg(count(lit(1)).as("rc"))
      .orderBy(col("rc").desc, col("l_partkey")).limit(topParts)
      .select("l_partkey").collect().map(_.getLong(0)).toSeq
    val nOrders = li.agg(count_distinct(col("l_orderkey")).as("n_orders"))
    val basketArr = li.where(col("l_partkey").isInCollection(top))
      .groupBy("l_orderkey").agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .persist() // feeds head-part frequencies and the pair explode
    basketLift(basketArr, nOrders, minSupport, k)
  }

  /** The pair-explode, frequency-join and lift tail of [[basketAffinity]]
    * and [[basketAffinityTop]], over a persisted (l_orderkey, parts) frame
    * of sorted distinct-part arrays and a one-row `n_orders` frame: part
    * frequencies are a small explode+agg of the baskets; ordered pairs
    * explode map-side (p2 ranges over the strictly-later slice of the
    * sorted array, so p1 < p2 and each unordered pair appears once), are
    * counted and cut at `minSupport`; the top `k` by support then lift.
    */
  private def basketLift(basketArr: DataFrame, nOrders: DataFrame,
                         minSupport: Int, k: Int): DataFrame = {
    val freq = basketArr.select(explode(col("parts")).as("l_partkey"))
      .groupBy("l_partkey").agg(count(lit(1)).as("c"))
    val pairs = basketArr
      .where(size(col("parts")) >= 2) // a one-part basket has no pair
      .select(posexplode(col("parts")).as(Seq("i", "p1")), col("parts"))
      .select(col("p1"),
        explode(expr("slice(parts, i + 2, size(parts))")).as("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("pair_cnt"))
      .where(col("pair_cnt") >= minSupport)
    pairs
      .join(freq.select(col("l_partkey").as("p1"), col("c").as("c1")), Seq("p1"))
      .join(freq.select(col("l_partkey").as("p2"), col("c").as("c2")), Seq("p2"))
      .crossJoin(broadcast(nOrders))
      .select(col("p1"), col("p2"), col("pair_cnt"),
        round((col("pair_cnt").cast("double") * col("n_orders").cast("double")) /
          (col("c1").cast("double") * col("c2").cast("double")), 6).as("lift"))
      .orderBy(col("pair_cnt").desc, col("lift").desc, col("p1"), col("p2"))
      .limit(k)
  }

  /** C27 — event path mining: the top-k most-travelled 3-step event-type
    * sequences across per-user event order — the "what do users actually
    * DO around a purchase" navigation question funnels (which fix the
    * target) and transitions (which see only pairs) both miss. Paths are
    * consecutive triples in (user, event_id) order; `n_users` counts
    * distinct travellers so one bot replaying a loop cannot fake a
    * popular path.
    *
    * One user-key window shuffle (two leads ride the same sorted pass),
    * then the aggregate collapses to ≤ \|event types\|³ cells with
    * map-side partials — the distinct-user count expands to (path, user)
    * keys, which partial-dedup map-side before the final collapse. The
    * top-k is TakeOrdered over the tiny cell table.
    */
  def eventPaths(spark: SparkSession, dir: String, k: Int = 25): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(byUser))
      .withColumn("e3", lead(col("event_type"), 2).over(byUser))
      .where(col("e3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("e2").as("step2"), col("e3").as("step3"))
      .agg(count(lit(1)).as("n_paths"), count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("n_paths").desc, col("step1"), col("step2"), col("step3"))
      .limit(k)
  }

  /** C28 — winsorized robust statistics: per-priority order-value outlier
    * report — p01/p99 cutoffs (the same cross-engine-exact `percentile` ≡
    * `quantile_cont` contract as C9/C21), counts clipped at each tail, and
    * the raw vs winsorized mean whose gap IS the outlier distortion a
    * revenue dashboard silently absorbs. The clip comparisons are strict
    * (`<` / `>`) against interpolated-double cutoffs computed identically
    * on both engines, so boundary rows land the same side everywhere.
    *
    * Scale: cutoffs aggregate per priority (exact percentile buffers one
    * group's values — C9's documented trade, `percentile_approx` is the
    * 100 TB swap) and broadcast back; the clip + means are one scan-speed
    * pass with map-side partials. Money sums are decimal-exact before the
    * final double cast.
    */
  def winsorizedStats(spark: SparkSession, dir: String,
                      pLo: Double = 0.01, pHi: Double = 0.99): DataFrame = {
    val cuts = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(expr(s"percentile(o_totalprice, array($pLo, $pHi))").as("pct"))
      .select(col("priority"),
        element_at(col("pct"), 1).as("lo_cut"), element_at(col("pct"), 2).as("hi_cut"))
    // The winsorized mean is recomposed from exact parts — decimal sum of
    // the UNTOUCHED middle + count·cutoff for each clipped tail — because
    // casting an interpolated-double cutoff to decimal(18,2) would round
    // half-way cases engine-differently; this way every float op is a
    // correctly-rounded product/add in a fixed written order.
    val mid = when(col("o_totalprice") >= col("lo_cut") && col("o_totalprice") <= col("hi_cut"),
      col("o_totalprice"))
    Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("priority"), col("o_totalprice"))
      .join(broadcast(cuts), Seq("priority"))
      .groupBy("priority")
      .agg(count(lit(1)).as("n_orders"),
        round(min(col("lo_cut")), 6).as("lo_cut"),
        round(min(col("hi_cut")), 6).as("hi_cut"),
        sum((col("o_totalprice") < col("lo_cut")).cast("long")).as("n_lo"),
        sum((col("o_totalprice") > col("hi_cut")).cast("long")).as("n_hi"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_raw"),
        coalesce(sum(mid.cast("decimal(18,2)")).cast("double"), lit(0.0)).as("sum_mid"),
        min(col("lo_cut")).as("lo_raw"), min(col("hi_cut")).as("hi_raw"))
      .select(col("priority"), col("n_orders"), col("lo_cut"), col("hi_cut"),
        col("n_lo").as("n_clipped_low"), col("n_hi").as("n_clipped_high"),
        round(col("sum_raw") / col("n_orders"), 6).as("mean_raw"),
        round((col("sum_mid") + col("n_lo") * col("lo_raw") + col("n_hi") * col("hi_raw"))
          / col("n_orders"), 6).as("mean_winsor"))
      .orderBy("priority")
  }

  /** C26 — calendar densify + forward-fill: the per-(priority, day) order
    * series with every missing day materialized (`observed = false`, flow
    * count 0) and the gauge-style carry-forward of the last observed
    * day-revenue — the resample step every downstream time-series consumer
    * (charting, anomaly baselines, feature windows) needs, done once in
    * the engine instead of N times in notebooks. Flows and gauges are
    * both reported: `n_orders` fills with 0 (a day with no orders HAD
    * zero orders), `value_carry` holds the last known reading (C10's
    * ignore-nulls carry-forward, the no-join trick again). The orders
    * fact is the driver: its (priority, day) series is genuinely sparse
    * (~28% gap days at gate SF), so the fill path is exercised, not
    * decorative.
    *
    * Scale: the raw fact collapses map-side to (priority, day) —
    * calendar cardinality, not order cardinality — before anything
    * widens; the dense grid is |priorities| × span-days built from a
    * 1-row broadcast span (the whitelisted scalar-attach cross join);
    * the fill window is bounded by days-of-history per priority. Nothing
    * downstream of the first aggregate ever touches fact volume.
    */
  def dailyFill(spark: SparkSession, dir: String): DataFrame = {
    // o_orderdate ships as TIMESTAMP_NTZ — route through TIMESTAMP (UTC
    // session zone) before the epoch math, same as rfmSegments
    val dayExpr =
      "((cast(cast(o_orderdate as timestamp) as long) - " +
      "pmod(cast(cast(o_orderdate as timestamp) as long), 86400)) div 86400)"
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("priority"), expr(dayExpr).as("day"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("day_value"))
    val span = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = daily.select("priority").distinct()
      .crossJoin(broadcast(span))
      .select(col("priority"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val fill = Window.partitionBy(col("priority")).orderBy(col("day"))
    grid.join(daily, Seq("priority", "day"), "left_outer")
      .withColumn("observed", col("n_orders").isNotNull)
      .withColumn("value_carry", last(col("day_value"), ignoreNulls = true).over(fill))
      .select(col("priority"), col("day"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        col("observed"), col("day_value"), col("value_carry"))
      .orderBy("priority", "day")
  }

  /** C33 — bilateral trade volume (TPC-H Q7 shape, generalized to the full
    * nation×nation matrix): revenue shipped between every (supplier nation,
    * customer nation) pair per ship-year, cross-border only — the
    * import/export decomposition Q7 answers for one nation pair, kept
    * un-filtered here so the query is non-vacuous at every SF and the
    * output is the full trade matrix analysts actually pivot.
    *
    * Scale shape: nation (25 rows) broadcasts onto BOTH fact-side chains;
    * supplier and customer are fact-scale at 100 TB so their joins stay
    * keyed (AQE places sides from runtime stats — q5Join's documented
    * discipline); lineitem⋈orders is the one unavoidable fact-fact shuffle
    * and the ship-year filter pushes into the lineitem scan before it. The
    * group-by key space is bounded by |nations|²×years (≤25·24·2 rows), so
    * the aggregate collapses map-side regardless of fact volume. Money is
    * decimal-exact until the final double cast.
    */
  def q7Volume(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(spark, dir)
    val li = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
             col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    li.join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .where(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate").cast("timestamp")).cast("long").as("ship_year"))
      .agg(
        sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount")))
          .cast("double").as("volume"),
        count(lit(1)).as("n_items"))
      .orderBy("supp_nation", "cust_nation", "ship_year")
  }

  /** C34 — late-shipment order share (TPC-H Q4 shape): per order priority,
    * how many 1996-placed orders had AT LEAST one lineitem shipped more
    * than 60 days after the order date — the fulfillment-SLA breakdown,
    * and the board's one EXISTS/semi-join aggregate (q3/q5/q7 are all
    * inner-join shapes; C17's anti-join is the complement).
    *
    * Scale shape: a LEFT SEMI join on the order key — the probe side
    * (lineitem) never widens the build side, each order emits at most
    * once no matter how many lineitems violate, and Spark plans it as a
    * shuffled/broadcast semi hash join with the date bound evaluated
    * inside the join (no pre-join distinct, no post-join dedup pass).
    * Both date filters push to their scans; the final aggregate is
    * priority-cardinality.
    */
  def q4Priority(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
             col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate")
    val late = ord.join(li,
      ord("o_orderkey") === li("l_orderkey") &&
        li("l_shipdate") > ord("o_orderdate") + expr("INTERVAL 60 DAYS"),
      "left_semi")
    late.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("late_orders"))
      .orderBy("o_orderpriority")
  }

  /** The discounted line price, decimal-exact until the caller's final cast
    * (the file's money discipline, factored for the conditional-share
    * queries below which reference it twice per aggregate).
    */
  private def discVol: Column =
    dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount"))

  /** C35 — national market share (TPC-H Q8 shape): within one region's
    * customer market and one part type, the share of yearly revenue
    * supplied by one nation — the "how is our country's industry doing in
    * that market" decomposition. The share is a CONDITIONAL aggregate
    * (sum-if over supplier nation ÷ sum) so one pass computes both
    * numerator and denominator — no second scan, no self-join.
    *
    * Scale shape: nation/region broadcast; part is filtered to one type
    * BEFORE its join (the filter pushes to the part scan, and at 100 TB
    * the filtered part side is what AQE sizes); customer collapses to a
    * keyed key-set; supplier keeps its keyed join (fact-scale, q5Join's
    * discipline). Group-key space is |years| — the aggregate collapses
    * map-side. Decimal-exact volumes; the share divides two exact sums
    * once, rounded to the 6-dp grid both engines agree on.
    */
  def q8Share(spark: SparkSession, dir: String,
              shareNation: String = "NATION_3", ptype: String = "ECONOMY",
              regionName: String = "ASIA"): DataFrame = {
    val nation = Tables.nation(spark, dir)
    val region = Tables.region(spark, dir).where(col("r_name") === regionName)
    val regionNations = nation
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("rn_nationkey"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(regionNations), col("c_nationkey") === col("rn_nationkey"))
      .select("c_custkey")
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val pt = Tables.part(spark, dir).where(col("p_type") === ptype).select("p_partkey")
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
             col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate").cast("timestamp")).cast("long").as("order_year"))
    Tables.lineitem(spark, dir)
      .withColumn("vol", discVol)
      .join(pt, col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy("order_year")
      .agg(
        round(
          coalesce(sum(when(col("supp_nation") === shareNation, col("vol"))).cast("double"),
            lit(0.0)) / sum(col("vol")).cast("double"), 6).as("mkt_share"),
        sum(col("vol")).cast("double").as("total_volume"),
        count(lit(1)).as("n_items"))
      .orderBy("order_year")
  }

  /** C36 — returned-item reporting (TPC-H Q10 shape): the customers who
    * returned the most revenue in one quarter — who to call before they
    * churn. Keyed three-way join with both filters pushed (order window to
    * the orders scan, return flag to the lineitem scan), customer-keyed
    * aggregate, global top-k.
    *
    * Scale shape: the top-k is an `orderBy().limit(k)` — Spark plans
    * TakeOrderedAndProject, a per-partition bounded heap + k-row driver
    * merge, NEVER a global sort (OpsSpec pins the plan). Ties break on
    * custkey so the cut is deterministic cross-engine.
    */
  def q10Returns(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit("2000-10-01").cast("timestamp") &&
             col("o_orderdate") < lit("2001-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, dir)
      .where(col("l_returnflag") === "R")
      .select(col("l_orderkey"), discVol.as("vol"))
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(ord, col("c_custkey") === col("o_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum(col("vol")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(k)
  }

  /** C37 — customer order-count distribution (TPC-H Q13 shape): how many
    * customers placed 0, 1, 2, … orders in a window — the engagement
    * histogram, zero bucket included (the customers a LEFT join keeps and
    * an inner join silently drops).
    *
    * Scale shape: orders collapse to (custkey, n_orders) FIRST — the
    * partial aggregate runs map-side, so the outer join carries one narrow
    * row per active customer instead of every order row through the probe
    * (the n-per-customer widening a naive customer⟕orders join pays). The
    * second aggregate is histogram-cardinality. One shuffle per side, both
    * on the customer key.
    */
  def q13OrdersDist(spark: SparkSession, dir: String,
                    since: String = "2000-01-01"): DataFrame = {
    val cnt = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit(since).cast("timestamp"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"))
    Tables.customer(spark, dir).select("c_custkey")
      .join(cnt, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("cnt"), lit(0L)).as("n_orders"))
      .groupBy("n_orders")
      .agg(count(lit(1)).as("n_custs"))
      .orderBy(col("n_custs").desc, col("n_orders").desc)
  }

  /** C38 — promotion revenue share (TPC-H Q14 shape): the fraction of one
    * month's revenue that came from promo-class parts — marketing's "did
    * the campaign move the needle" number. One conditional aggregate over
    * the month's lineitems joined to part.
    *
    * Scale shape: the month filter pushes to the lineitem scan (the join
    * sees one month, not the table); part joins KEYED on partkey — part is
    * fact-scale at 100 TB (SF×200k rows) so no broadcast is baked in, AQE
    * decides from runtime stats. Numerator and denominator come out of the
    * same decimal partials; one 1-row reduce.
    */
  def q14Promo(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("2000-09-01").cast("timestamp") &&
             col("l_shipdate") < lit("2000-10-01").cast("timestamp"))
      .withColumn("vol", discVol)
      .join(Tables.part(spark, dir).select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .agg(
        round(lit(100.0) *
          coalesce(sum(when(col("p_type") === "PROMO", col("vol"))).cast("double"), lit(0.0))
          / sum(col("vol")).cast("double"), 6).as("promo_share"),
        sum(col("vol")).cast("double").as("total_revenue"),
        count(lit(1)).as("n_items"))

  /** C39 — large-volume orders (TPC-H Q18 shape): the biggest orders by
    * total quantity — the bulk buyers a supply planner watches. The HAVING
    * aggregate runs FIRST (lineitem collapses to one row per order,
    * map-side partials, decimal-exact quantity sum so the threshold
    * compare is partition-order-independent), and only qualifying orders
    * join back to orders/customer — the join probe is the post-filter
    * survivor set, not the fact table.
    */
  def q18BigOrders(spark: SparkSession, dir: String,
                   minQty: Int = 150, k: Int = 100): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("bo_orderkey"))
      .agg(sum(dec("l_quantity")).as("sum_qty"))
      .where(col("sum_qty") > lit(minQty))
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("bo_orderkey"))
      .join(Tables.customer(spark, dir).select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"), col("sum_qty").cast("double").as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(k)
  }

  /** C41 — shipping-latency SLA breakdown (TPC-H Q12 spirit, latency
    * buckets instead of the ship-mode column this corpus lacks): per order
    * priority, how many lineitems shipped within 30/60/90/90+ days of the
    * order date — the fulfillment-latency profile behind C34's binary
    * "late" verdict. One fact-fact join (the unavoidable orders⋈lineitem
    * shuffle), then ALL four buckets come out of one conditional aggregate
    * pass — no per-bucket scan, no pivot; group-key space is the 5
    * priorities, so partials collapse map-side. Latency is integer
    * calendar-day arithmetic (`datediff`), exact in both engines.
    */
  def q12Latency(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate")
    Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority", "o_orderdate")
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .withColumn("lat", datediff(col("l_shipdate").cast("timestamp"),
        col("o_orderdate").cast("timestamp")).cast("long"))
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(when(col("lat") <= 30, 1L).otherwise(0L)).as("d30"),
        sum(when(col("lat") > 30 && col("lat") <= 60, 1L).otherwise(0L)).as("d60"),
        sum(when(col("lat") > 60 && col("lat") <= 90, 1L).otherwise(0L)).as("d90"),
        sum(when(col("lat") > 90, 1L).otherwise(0L)).as("d90_plus"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  /** C42 — top supplier by quarterly revenue (TPC-H Q15 shape): the
    * supplier(s) whose revenue equals the quarter's maximum — ties kept,
    * like the reference query's view-equality semantics. The per-supplier
    * aggregate is keyed (supplier is fact-scale at 100 TB); the max is a
    * 1-row scalar broadcast back onto the aggregate (whitelisted attach).
    * The equality filter compares DECIMALS — the sum and its max are the
    * same exact value, so the tie test cannot be split by double rounding
    * in either engine; the cast to double happens after the cut.
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("2000-07-01").cast("timestamp") &&
             col("l_shipdate") < lit("2000-10-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(discVol).as("rev"))
    val top = rev.agg(max(col("rev")).as("max_rev"))
    rev.crossJoin(broadcast(top))
      .where(col("rev") === col("max_rev"))
      .join(Tables.supplier(spark, dir).select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("rev").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** C43 — disjunctive-predicate revenue (TPC-H Q19 shape): revenue from
    * lineitems matching ANY of three (brand, part-size range, quantity
    * range) branches — the OR-of-conjunctions shape that breaks naive
    * per-column pushdown. The join key stays a single equi-join on
    * partkey; Spark extracts the part-only disjunction
    * ((brand∧size) ∨ …) below the join so the part scan pre-filters to
    * the union of branch parts instead of shipping the whole table into
    * the join, and the mixed part×lineitem residual evaluates inside it.
    * One 1-row conditional-free aggregate.
    */
  def q19Disjunct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir).select("p_partkey", "p_brand", "p_size"),
        col("l_partkey") === col("p_partkey"))
      .where(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
          col("l_quantity").between(10, 30)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
          col("l_quantity").between(20, 40)))
      .agg(sum(discVol).cast("double").as("revenue"), count(lit(1)).as("n_items"))

  /** C44 — small-quantity order revenue (TPC-H Q17 shape): for one brand,
    * the revenue sitting in lineitems whose quantity is below half the
    * part's own average order quantity — the "trickle orders" a
    * consolidation policy would sweep into bulk shipments. The board's
    * PER-GROUP scalar-subquery composition (C40's scalar is global; this
    * one is a correlated per-part threshold).
    *
    * Scale shape: the brand filter restricts lineitem FIRST (a keyed join
    * against the filtered part key-set — every lineitem of a brand part is
    * brand-filtered by definition, so the per-part average over the
    * restricted rows equals the average over all of the part's rows), the
    * per-part (Σqty, n) stats collapse map-side, and the threshold test
    * multiplies through — `2·qty·n < Σqty` over exact decimals, no
    * double-divided average in a filter (the C40 discipline applied
    * per-group). Spark reuses the restricted-join exchange for both the
    * stats pass and the probe.
    */
  def q17SmallQty(spark: SparkSession, dir: String,
                  brand: String = "Brand#5"): DataFrame = {
    val bparts = Tables.part(spark, dir)
      .where(col("p_brand") === brand).select("p_partkey")
    val li = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(bparts, col("l_partkey") === col("p_partkey"))
    val pq = li.groupBy(col("l_partkey").as("pq_partkey"))
      .agg(sum(dec("l_quantity")).as("sq"), count(lit(1)).as("cq"))
    li.join(pq, col("l_partkey") === col("pq_partkey"))
      .where(dec("l_quantity") * lit(2) * col("cq") < col("sq"))
      .agg(count(lit(1)).as("n_items"),
        sum(dec("l_extendedprice")).cast("double").as("small_qty_revenue"))
  }

  /** C45 — product-line margin by supplier nation and year (TPC-H Q9
    * shape; the corpus has no partsupp, so the cost side is a retail-value
    * proxy at a fixed carry rate): per (supplier nation, order year) over
    * parts matching a name pattern, gross discounted revenue and margin
    * after subtracting 10% of retail value × quantity — the profit
    * decomposition Q9 answers, on the 6-table chain (lineitem, orders,
    * part, supplier, nation).
    *
    * Scale shape: the name filter pushes to the part scan and the filtered
    * part side is what AQE sizes; supplier keyed with nation broadcast
    * (q5/q7 discipline); lineitem⋈orders is the one fact-fact shuffle;
    * group key bounded by |nations|×|years|. The two money terms aggregate
    * as SEPARATE exact decimal sums, and the 0.1 carry rate applies ONCE
    * in double at the very end — a triple decimal product would overflow
    * precision 38 and round differently per engine; two exact sums and
    * one IEEE expression cannot.
    */
  def q9Margin(spark: SparkSession, dir: String,
               namePattern: String = "%widget%"): DataFrame = {
    val pt = Tables.part(spark, dir)
      .where(col("p_name").like(namePattern))
      .select("p_partkey", "p_retailprice")
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    Tables.lineitem(spark, dir)
      .join(pt, col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("supp_nation"),
        year(col("o_orderdate").cast("timestamp")).cast("long").as("o_year"))
      .agg(
        sum(discVol).cast("double").as("gross_revenue"),
        round(sum(discVol).cast("double") -
          lit(0.1) * sum(dec("p_retailprice") * dec("l_quantity")).cast("double"), 6)
          .as("margin"),
        count(lit(1)).as("n_items"))
      .orderBy("supp_nation", "o_year")
  }

  /** C40 — dormant high-balance customers (TPC-H Q22 shape): customers
    * with above-average positive account balance and NO order since a
    * cutoff, by nation — the win-back list with the budget to come back.
    * The board's scalar-subquery + anti-join composition (C17's anti-join
    * has no scalar gate; rfm's scalars have no anti-join).
    *
    * Scale shape: the average is a 1-row (sum, count) scalar broadcast
    * onto the customer scan (whitelisted 1-row attach, PlanGuardSpec);
    * the above-average test multiplies through instead of dividing —
    * `bal·n > Σbal` over exact decimals, so no engine-dependent double
    * division sits in a FILTER (a row on the boundary must fall the same
    * side in both engines). The recency test is a LEFT ANTI join against
    * the cutoff-filtered orders scan — each customer emits at most once
    * however many orders they placed, no distinct pass needed.
    */
  def q22Dormant(spark: SparkSession, dir: String,
                 since: String = "2001-01-01"): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val anchor = cust.where(col("c_acctbal") > 0)
      .agg(sum(dec("c_acctbal")).as("bal_sum"), count(lit(1)).as("bal_n"))
    val active = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit(since).cast("timestamp"))
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(anchor))
      .where(dec("c_acctbal") * col("bal_n") > col("bal_sum"))
      .join(active, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_custs"),
        sum(dec("c_acctbal")).cast("double").as("total_bal"))
      .orderBy("n_name")
  }

  /** C46 — minimum-cost supplier per part (TPC-H Q2 shape; the corpus has
    * no partsupp, so "supply cost" is each supplier's average historical
    * unit sale price for the part, from lineitem). Within one part slice
    * (type + size bound, Q2's region-of-interest), every supplier whose
    * average unit price for a part EQUALS that part's minimum — ties kept,
    * like Q2's correlated `= (SELECT min …)` — joined back to supplier
    * detail and ranked by account balance (Q2's output order).
    *
    * Scale shape: the slice filter pushes to the part scan and restricts
    * lineitem FIRST via a keyed join; the per-(part, supplier) aggregate
    * collapses map-side; the per-part min is a window PARTITIONED on the
    * part key over that aggregate — one subtree, one extra part-keyed
    * exchange, where the textbook `= (SELECT min …)` join-back re-plans
    * (and re-scans) the whole aggregate as a second input. The unit cost
    * is one IEEE double quotient of two exact decimal sums — division is
    * bit-specified in IEEE 754, so both engines derive the identical
    * double from identical decimals and the min-equality cut cannot be
    * split by rounding (the q15 tie discipline, applied per group). Top-k
    * is TakeOrderedAndProject.
    */
  def q2MinCost(spark: SparkSession, dir: String, ptype: String = "ECONOMY",
                maxSize: Int = 10, k: Int = 100): DataFrame = {
    val pt = Tables.part(spark, dir)
      .where(col("p_type") === ptype && col("p_size") <= maxSize)
      .select("p_partkey")
    val ps = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
      .join(pt, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg((sum(dec("l_extendedprice")).cast("double") /
        sum(dec("l_quantity")).cast("double")).as("unit_cost"))
    ps.withColumn("min_cost",
        min(col("unit_cost")).over(Window.partitionBy(col("l_partkey"))))
      .where(col("unit_cost") === col("min_cost"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("l_partkey").as("p_partkey"), round(col("unit_cost"), 6).as("unit_cost"))
      .orderBy(col("s_acctbal").desc, col("s_name"), col("p_partkey"))
      .limit(k)
  }

  /** C47 — important stock (TPC-H Q11 shape; stock value proxied as each
    * part's lifetime quantity × retail price — no partsupp availqty in
    * this corpus): the parts whose stock value exceeds twice the mean
    * part's, i.e. the inventory lines big enough to manage individually.
    * Q11's literal fraction threshold shrinks with SF (0.0001/SF); the
    * mean-relative form is the same "share of the global total" gate made
    * scale-invariant, so the query is non-vacuous at every SF.
    *
    * Scale shape: the per-part aggregate is keyed (part is fact-scale);
    * the global (total, n_parts) anchor is a 1-row scalar broadcast back
    * onto it (whitelisted attach), and the threshold multiplies through —
    * `value·n·10 > 13·total` (1.3× the mean) over exact decimals and
    * integer literals, no double division in a filter (the q22
    * discipline). Output is the above-threshold survivor set,
    * value-ranked with key tie-break.
    */
  def q11Important(spark: SparkSession, dir: String): DataFrame = {
    val value = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_quantity")
      .join(Tables.part(spark, dir).select("p_partkey", "p_retailprice"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(dec("l_quantity") * dec("p_retailprice")).as("value"))
    val anchor = value.agg(sum(col("value")).as("total"), count(lit(1)).as("n_parts"))
    value.crossJoin(broadcast(anchor))
      .where(col("value") * col("n_parts") * lit(10) > col("total") * lit(13))
      .select(col("l_partkey").as("p_partkey"), col("value").cast("double").as("stock_value"))
      .orderBy(col("stock_value").desc, col("p_partkey"))
  }

  /** C48 — supplier variety by part attribute (TPC-H Q16 shape; the
    * part–supplier relation comes from lineitem history — who actually
    * shipped the part — instead of the partsupp catalog this corpus
    * lacks): for each (brand, type, size) outside one excluded brand, how
    * many distinct suppliers can source it — the supply-chain-risk
    * inventory (a one-supplier attribute cell is a single point of
    * failure).
    *
    * Scale shape: the exclusion pushes to the part scan; the join is
    * keyed; `countDistinct` plans the standard two-level expand —
    * partial-distinct (brand, type, size, supp) map-side, then a
    * cardinality count — so the shuffle carries the distinct pair set,
    * not the fact rows. Output cardinality is the attribute grid.
    */
  def q16Variety(spark: SparkSession, dir: String,
                 excludeBrand: String = "Brand#1"): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_partkey", "l_suppkey")
      .join(Tables.part(spark, dir)
          .where(col("p_brand") =!= excludeBrand)
          .select("p_partkey", "p_brand", "p_type", "p_size"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))

  /** C49 — surging-demand suppliers (TPC-H Q20 shape; availability is
    * proxied by shipment history — no partsupp availqty): suppliers of one
    * nation for whom some name-matched part had MORE than half its
    * lifetime quantity shipped in one recent year — the supply lines a
    * buyer audits before committing next year's volume. Q20's nested
    * semi-join chain: part name-filter → per-(supplier, part) quantity
    * test → distinct supplier key-set → supplier detail.
    *
    * Scale shape: the name filter pushes to the part scan and restricts
    * lineitem via a keyed join BEFORE any aggregate; the year/lifetime
    * sums come out of ONE conditional-aggregate pass over that restricted
    * join (no second scan); the qualifying test multiplies through
    * (`2·q_year > q_total` over exact decimals, which also implies
    * q_year > 0); the supplier side joins keyed against the qualifying
    * per-supplier counts — each supplier emits at most once however many
    * parts qualify. Nation broadcast for the name column (Q2O's one-nation
    * filter is dropped so the query is non-vacuous at the gate SF — a
    * caller narrows by n_name); output is the qualifying supplier list
    * with the surging-part count carried for context.
    */
  def q20Excess(spark: SparkSession, dir: String, namePattern: String = "%widget%",
                year0: String = "2000-01-01", year1: String = "2001-01-01"): DataFrame = {
    val pt = Tables.part(spark, dir)
      .where(col("p_name").like(namePattern)).select("p_partkey")
    val inYear = col("l_shipdate") >= lit(year0).cast("timestamp") &&
      col("l_shipdate") < lit(year1).cast("timestamp")
    val qualifying = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
      .join(pt, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(when(inYear, dec("l_quantity")).otherwise(lit(0).cast("decimal(18,2)")))
        .as("q_year"), sum(dec("l_quantity")).as("q_total"))
      .where(col("q_year") * lit(2) > col("q_total"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_surging_parts"))
    Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(qualifying, col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"), col("n_surging_parts"))
      .orderBy("s_suppkey")
  }

  /** C50 — sole-late-supplier ranking (TPC-H Q21 shape; lateness is
    * ship-vs-order latency >60 days — this corpus has no commit/receipt
    * dates): for finalized multi-supplier orders where EXACTLY ONE
    * supplier shipped late, charge that supplier — Q21's
    * exists/not-exists pair (another supplier on the order / no OTHER
    * late supplier) — and rank suppliers by how many orders they alone
    * held up.
    *
    * Scale shape: Q21's textbook form is two correlated self-joins on
    * lineitem (exists + not exists); here both collapse into TWO keyed
    * aggregates over the one unavoidable orders⋈lineitem join — per
    * (order, supplier) a late flag (map-side partials), then per order
    * (n_suppliers, n_late, the single late key via a conditional max) —
    * so the fact table is never self-joined and partition order can't
    * leak (the conditional max is only published where n_late = 1).
    * Supplier detail joins keyed against the per-supplier counts
    * (supplier is fact-scale); top-k is TakeOrderedAndProject with key
    * tie-break.
    */
  def q21Waiting(spark: SparkSession, dir: String, lateDays: Int = 60,
                 k: Int = 100): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val perSupp = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_shipdate") >
        col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"), 1L).otherwise(0L))
        .as("any_late"))
    val perOrder = perSupp.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"), sum(col("any_late")).as("n_late"),
        max(when(col("any_late") === 1L, col("l_suppkey"))).as("late_supp"))
      .where(col("n_supp") > 1 && col("n_late") === 1L)
    perOrder.groupBy(col("late_supp"))
      .agg(count(lit(1)).as("numwait"))
      .join(Tables.supplier(spark, dir).select("s_suppkey", "s_name"),
        col("late_supp") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(k)
  }
}
