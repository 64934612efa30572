package graft

/** The ONE perf-regression decision rule, shared by [[Bench]] (the
  * `regressions` field every round driver run reports) and
  * `PerfRegressionSpec` (the `sbt test` gate over the committed artifacts).
  * Two call sites hand-copying the comparison is how the two reports
  * silently diverge; both now ask this object.
  *
  * Rule (r9 verdict #1/#2 adjudication):
  *
  *   - Anchored queries (DuckDB anchor ≥ [[anchorFloorSec]]): ratio-vs-ratio
  *     at [[ratioTolerance]]× AND the Spark wall's own
  *     [[ratioTolerance]]×/+[[absFloorSec]] movement. Absolute seconds drift
  *     with external host load (identical code has totaled 46-83 s across
  *     rounds) while the interleaved same-session anchor shares each Spark
  *     pass's stall windows, so the ratio cancels noise from both sides of
  *     the division — but the ratio alone also moves when the DENOMINATOR
  *     shifts: r17's `semantic_contamination` trip was Spark 1.128→1.256 s
  *     (1.11×, unchanged plan, git-verified) while DuckDB's recursive-CTE
  *     anchor collapsed 76.3→20.9 s, a 3.6× anchor-side move that read as a
  *     4.06× "regression". A Spark plan defect ALWAYS moves the Spark wall;
  *     requiring both legs means anchor-side plan/host variance can no
  *     longer masquerade as one. Ratio-fired-but-wall-quiet cases are
  *     classified [[anchorDrift]] and reported in the bench line's
  *     `anchor_drift` field — visible for adjudication/re-pin, not a
  *     regression.
  *
  *   - Sub-floor anchors (< [[anchorFloorSec]]): the ratio's denominator is
  *     single-digit milliseconds of DuckDB work, so a ±10 ms anchor wobble
  *     — pure measurement noise — moves the ratio 2-4×. R9 proved it:
  *     `resume_tokens_last` tripped at 3.1× ratio-vs-ratio on an UNCHANGED
  *     trivial groupBy plan (wall 0.32→0.78 s against a 7-9 ms anchor).
  *     These queries gate on the Spark wall instead: trip only when the
  *     wall BOTH exceeds [[ratioTolerance]]× its baseline wall AND grew by
  *     more than [[absFloorSec]] absolute — a compound that uniform host
  *     drift (worst observed ~1.6× on an unchanged plan) cannot produce,
  *     while a genuinely lost pushdown or new exchange on even a trivial
  *     query (integer-multiple wall growth from a sub-second base) still
  *     does.
  */
object PerfGate {

  /** Trip threshold, ratio-vs-ratio or wall-vs-wall: above any observed
    * noise drift (~1.6× worst), below a real plan defect's integer
    * multiples.
    */
  val ratioTolerance = 3.0

  /** Anchors below this are noise-dominated: DuckDB's own scheduling jitter
    * is single-digit ms, so a <50 ms denominator cannot carry a 3× signal.
    */
  val anchorFloorSec = 0.05

  /** Minimum ABSOLUTE Spark-wall growth for a sub-floor-anchor trip: a
    * trivial query's wall is dominated by the fixed job floor (~0.2-0.5 s
    * here), which wobbles by ±0.2 s with host load; 0.3 s of growth on top
    * of a 3× multiple is outside that band.
    */
  val absFloorSec = 0.3

  /** The measured per-query job floor on this host (`Profile floor`:
    * canonical scan→shuffle→agg at sf0.1 = 0.216 s) — the fixed scheduling
    * cost every query pays regardless of its work. [[Bench]] subtracts it
    * per query for the `ratio_excess_vs_duckdb` summary field, so
    * round-over-round drift in REAL work stays visible when most of the
    * registry idles at the floor (131 of 182 queries at r15).
    */
  val jobFloorSec = 0.216

  /** Trip multiple for the FLOOR-NORMALIZED aggregate
    * (`ratio_excess_vs_duckdb`) against its pinned baseline value (r17,
    * VERDICT r16 #4). The per-query gates above can all stay quiet while
    * real work drifts a few hundred ms each across the ~135 queries folded
    * below the bench's 1.5 s reporting threshold — the aggregate is the
    * only place that drift sums to a visible signal. 2.0×: the aggregate
    * averages ~190 queries, so per-query noise largely cancels and the
    * worst observed uniform host drift (~1.6× on unchanged code) taxes
    * numerator and same-session anchor denominator together; a genuine
    * doubling of floor-adjusted real work relative to the anchor is a
    * plan-regression signal, not weather.
    */
  val excessTolerance = 2.0

  /** Should the aggregate excess ratio trip? Non-positive inputs (anchor
    * missing, baseline predating the field) never trip — absence of
    * evidence is a coverage problem, not a regression.
    */
  def excessRegressed(curExcess: Double, baseExcess: Double): Boolean =
    curExcess > 0 && baseExcess > 0 && curExcess > excessTolerance * baseExcess

  /** Should this query trip the wire?
    *
    * @param curSpark  this run's Spark wall (min-of-reps), seconds
    * @param curDuck   this run's same-session DuckDB anchor, seconds
    * @param baseSpark baseline Spark wall from PERF_BASELINE.json
    * @param baseRatio baseline spark/duckdb ratio from PERF_BASELINE.json
    *
    * Non-positive inputs (failed sample, missing baseline entry) never
    * trip: absence of evidence is the coverage check's job, not the gate's.
    */
  def regressed(curSpark: Double, curDuck: Double,
                baseSpark: Double, baseRatio: Double): Boolean =
    if (curSpark <= 0 || curDuck <= 0 || baseRatio <= 0) false
    else if (curDuck >= anchorFloorSec)
      curSpark / curDuck > ratioTolerance * baseRatio &&
        wallMoved(curSpark, baseSpark)
    else
      wallMoved(curSpark, baseSpark)

  /** The Spark-wall leg shared by both branches: [[ratioTolerance]]× the
    * baseline wall AND more than [[absFloorSec]] absolute growth. A real
    * plan defect (lost pushdown, new exchange, broadcast→SMJ) produces
    * integer-multiple wall growth; uniform host drift (worst observed
    * ~1.6×) and job-floor wobble (±0.2 s) cannot satisfy both legs.
    */
  private def wallMoved(curSpark: Double, baseSpark: Double): Boolean =
    baseSpark > 0 &&
      curSpark > ratioTolerance * baseSpark &&
      curSpark - baseSpark > absFloorSec

  /** The ratio leg fired but the Spark wall did not move: the anchor side
    * (DuckDB plan choice, host) shifted under an unchanged Spark query.
    * Reported in the bench line's `anchor_drift` field — a signal to
    * adjudicate and re-pin the baseline, never a regression.
    */
  def anchorDrift(curSpark: Double, curDuck: Double,
                  baseSpark: Double, baseRatio: Double): Boolean =
    curSpark > 0 && curDuck >= anchorFloorSec && baseRatio > 0 &&
      curSpark / curDuck > ratioTolerance * baseRatio &&
      !wallMoved(curSpark, baseSpark)

  /** One-line explanation for a tripped query, matching the branch that
    * fired — the message a red suite hands the person adjudicating.
    */
  def describe(name: String, curSpark: Double, curDuck: Double,
               baseSpark: Double, baseRatio: Double): String =
    if (curDuck >= anchorFloorSec)
      f"$name: ratio ${curSpark / curDuck}%.2f vs baseline $baseRatio%.2f " +
        f"(${curSpark / curDuck / baseRatio}%.1fx), wall $curSpark%.3fs " +
        f"vs baseline $baseSpark%.3fs"
    else
      f"$name: wall $curSpark%.3fs vs baseline $baseSpark%.3fs " +
        f"(${curSpark / baseSpark}%.1fx, anchor ${curDuck * 1000}%.0fms < 50ms floor)"
}
