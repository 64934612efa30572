package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the documents table (SURVEY.md §2 B7-B10).
  *
  * All pure narrow projections built from codegen'd builtins (`split`,
  * `transform`, `aggregate`, `regexp_*`) — no UDFs, so every operator stays
  * inside whole-stage codegen and scales embarrassingly parallel: at 100 TB
  * these run at parquet scan speed with zero shuffle (the final ORDER BY
  * exists only for deterministic verification output).
  */
object TextAnalysis {

  /** Tiny per-language stopword sets for the language heuristic (shared
    * verbatim with the oracle SQL via [[langStopwords]]).
    */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "du", "en", "est"),
    "es" -> Seq("el", "que", "y", "los", "se", "no", "por", "con", "las", "como"),
    "de" -> Seq("der", "die", "und", "das", "den", "von", "zu", "mit", "ist", "nicht"))

  private def toks(c: Column): Column = split(c, " ")

  /** B9 — token counting: whitespace tokens plus a BPE-ish segmentation
    * (word pieces vs punctuation). Both counts come from ONE code-point
    * scan per row (TokenCounts, r15): the prior
    * `size(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]', 0))` form
    * materialized every match string just to count them, and was the one
    * B-family NOT converging at the 50× crossover (4.1 s vs a 0.32 s
    * anchor); the scan allocates nothing. Semantics are bit-identical
    * (FunctionsSpec pins the equality, incl. unicode/supplementary
    * chars), so the regex-form oracle SQL is unchanged.
    */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("tc", graft.functions.VectorExpressions.tokenCounts(col("text")))
      .select(
        col("doc_id"),
        col("tc.ws_tokens").as("ws_tokens"),
        col("tc.bpeish_tokens").as("bpeish_tokens"),
        length(col("text")).cast("long").as("n_chars_computed")
      )
      .orderBy("doc_id")

  /** B7 — language ID: per-language stopword-hit scoring, argmax with a
    * minimum-evidence threshold. All four languages' hit counts come from
    * ONE codegen'd StopwordHits tokenize pass (the per-language
    * filter-lambda formulation paid four interpreted passes per row);
    * earlier language in [[langStopwords]] wins ties (deterministic,
    * mirrored in the oracle SQL).
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val hc = graft.functions.VectorExpressions
      .stopwordHits(col("text"), langStopwords.map(_._2))
    // ties: earliest language wins because `when` chains evaluate in order
    val predOrdered = langStopwords.map { case (l, _) => l }
      .foldLeft(when(lit(false), "x")) { (acc, l) =>
        acc.when(col(s"hits_$l") === col("best_hits") && col("stopword_ratio") > 0.04, l)
      }.otherwise("und")
    Tables.documents(spark, dir)
      .withColumn("hc", hc)
      .withColumns(langStopwords.zipWithIndex.map { case ((l, _), i) =>
        s"hits_$l" -> element_at(col("hc.hits"), i + 1)
      }.toMap)
      .withColumn("n_tokens", col("hc.n_tokens"))
      .withColumn("best_hits",
        langStopwords.map { case (l, _) => col(s"hits_$l") }.reduce((a, b) => greatest(a, b)))
      .withColumn("stopword_ratio", round(col("best_hits").cast("double") / col("n_tokens").cast("double"), 6))
      .withColumn("lang_pred", predOrdered)
      .select(Seq(col("doc_id"), col("lang").as("lang_declared")) ++
        langStopwords.map { case (l, _) => col(s"hits_$l") } ++
        Seq(col("n_tokens"), col("best_hits"), col("stopword_ratio"), col("lang_pred")): _*)
      .orderBy("doc_id")
  }

  /** B7c — code-switching detection: per doc, the PRIMARY language (argmax
    * stopword hits, B7's evidence) plus the RUNNER-UP language and its
    * evidence — a doc whose second language clears both an absolute-hit and
    * a rate floor is flagged `code_switched`. The signal B7's single argmax
    * throws away: mixed-language documents (boilerplate chrome in one
    * language wrapping content in another, concatenated crawl fragments,
    * genuine code-switching) pollute per-language corpora and skew
    * per-lang curation thresholds (B44's terciles, B62's length
    * histograms), and the runner-up rate is exactly the triage column.
    *
    * Same ONE codegen'd StopwordHits pass as B7 (no second tokenize), pure
    * projection after it — scan-speed at any scale, zero shuffle. Ties
    * break to the earlier language in [[langStopwords]] for BOTH slots
    * (deterministic, mirrored in the oracle SQL); the runner-up maximum
    * excludes the primary slot by value-masking it to −1, so a doc whose
    * two top languages tie reports the later one as secondary with the
    * full tied count.
    */
  /** [[codeSwitch]] flag thresholds — the oracle SQL interpolates THESE
    * (the dup_pair_spans lesson: a hardcoded copy desyncs silently).
    */
  val CodeSwitchMinHits: Int = 3
  val CodeSwitchMinRate: Double = 0.03

  def codeSwitch(spark: SparkSession, dir: String,
                 minHits: Int = CodeSwitchMinHits,
                 minRate: Double = CodeSwitchMinRate): DataFrame = {
    val hc = graft.functions.VectorExpressions
      .stopwordHits(col("text"), langStopwords.map(_._2))
    val langs = langStopwords.map(_._1)
    val primaryOrdered = langs
      .foldLeft(when(lit(false), "x")) { (acc, l) =>
        acc.when(col(s"hits_$l") === col("primary_hits"), l)
      }.otherwise("und")
    val secondaryOrdered = langs
      .foldLeft(when(lit(false), "x")) { (acc, l) =>
        acc.when(col("primary_lang") =!= l &&
          col(s"hits_$l") === col("secondary_hits"), l)
      }.otherwise("und")
    Tables.documents(spark, dir)
      .withColumn("hc", hc)
      .withColumns(langs.zipWithIndex.map { case (l, i) =>
        s"hits_$l" -> element_at(col("hc.hits"), i + 1)
      }.toMap)
      .withColumn("n_tokens", col("hc.n_tokens"))
      .withColumn("primary_hits", langs.map(l => col(s"hits_$l")).reduce(greatest(_, _)))
      .withColumn("primary_lang", primaryOrdered)
      .withColumn("secondary_hits", langs.map(l =>
        when(col("primary_lang") === l, lit(-1L)).otherwise(col(s"hits_$l")))
        .reduce(greatest(_, _)))
      .withColumn("secondary_lang",
        when(col("secondary_hits") <= 0, lit("und")).otherwise(secondaryOrdered))
      .withColumn("secondary_rate",
        round(col("secondary_hits").cast("double") / col("n_tokens").cast("double"), 6))
      .withColumn("code_switched",
        col("primary_hits") > 0 && col("secondary_hits") >= minHits &&
          col("secondary_rate") >= minRate)
      .select(col("doc_id"), col("lang").as("lang_declared"),
        col("primary_lang"), col("primary_hits"),
        col("secondary_lang"), col("secondary_hits"),
        col("n_tokens"), col("secondary_rate"), col("code_switched"))
      .orderBy("doc_id")
  }

  /** B8 — quality scoring: length, token, punctuation and repetition signals
    * combined into one score. Integer-ratio doubles are IEEE-exact, so the
    * oracle agrees bit-for-bit.
    */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val tokens = toks(col("text"))
    val nTok = size(tokens).cast("double")
    val nUniq = size(array_distinct(tokens)).cast("double")
    val meanTokLen = (length(col("text")).cast("double") - (nTok - lit(1.0))) / nTok
    val uniqRatio = nUniq / nTok
    val score = round(least(lit(1.0), nTok / lit(200.0)) * uniqRatio, 6)
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        col("n_chars"),
        size(tokens).cast("long").as("n_tokens"),
        round(meanTokLen, 6).as("mean_token_len"),
        round(uniqRatio, 6).as("uniq_token_ratio"),
        score.as("quality_score"),
        (score >= 0.3).as("keep")
      )
      .orderBy("doc_id")
  }

  /** B50 — per-source (domain) quality aggregation + keep verdict: the
    * RefinedWeb/C4 "domain-level curation" step — individual documents are
    * noisy signals, but a SOURCE whose average quality is low or whose
    * duplicate fraction is high is dropped wholesale (link farms, scraped
    * mirrors, template sites). Per source: doc count, mean of the B8
    * quality score (the per-doc round-6 score text_quality already
    * hash-verifies), the fraction of docs that are non-first byte-exact
    * duplicates, and the keep verdict both thresholds gate.
    *
    * Scale shape: the per-doc score is a pure projection; the dup flag
    * joins the corpus to a partial-aggregated (hash → count, min-id) table
    * on the content hash (AQE-splittable, same key as B1); the final
    * aggregate collapses to source cardinality with map-side partials.
    * avg() of identical round-6 inputs differs across engines only by
    * summation order (~1e-13) — invisible at the round-6 output step.
    */
  def sourceQuality(spark: SparkSession, dir: String,
                    minAvgScore: Double = 0.15, maxDupFrac: Double = 0.2): DataFrame = {
    val tokens = toks(col("text"))
    val nTok = size(tokens).cast("double")
    val nUniq = size(array_distinct(tokens)).cast("double")
    val score = round(least(lit(1.0), nTok / lit(200.0)) * (nUniq / nTok), 6)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), score.as("score"), md5(col("text")).as("h"))
    val hashStats = docs.groupBy("h")
      .agg(count(lit(1)).as("c"), min(col("doc_id")).as("m"))
    docs.join(hashStats, Seq("h"))
      .withColumn("is_dup", (col("c") > 1 && col("doc_id") =!= col("m")).cast("double"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("score")), 6).as("avg_quality"),
        round(avg(col("is_dup")), 6).as("dup_frac"))
      .withColumn("keep",
        col("avg_quality") >= minAvgScore && col("dup_frac") <= maxDupFrac)
      .orderBy("source")
  }

  /** B50c — per-source QUANTILE NORMALIZATION of the quality score: each
    * doc's within-source percentile rank. Raw heuristic scores are not
    * comparable across sources (a boilerplate-heavy crawl saturates low, a
    * curated source saturates high), so thresholding the raw score
    * over-prunes some sources and under-prunes others; ranking each doc
    * WITHIN its source puts every source on the same [0,1] axis — the
    * standard fix when blending heterogeneous sources into one corpus mix
    * (keep the top-q of EACH source, not the global top-q). `percent_rank`
    * ties share a value in Spark and DuckDB alike, so the oracle lands on
    * identical bits; ORDER BY the score alone keeps tie groups engine-
    * independent.
    *
    * Scale shape: one projection for the score + ONE window partitioned by
    * source (the natural shuffle key; a dominating source is the
    * sourceCapSample two-level scaffold's case). Nothing corpus-global.
    */
  def sourceQuantileNorm(spark: SparkSession, dir: String): DataFrame = {
    val tokens = toks(col("text"))
    val nTok = size(tokens).cast("double")
    val uniqRatio = size(array_distinct(tokens)).cast("double") / nTok
    val score = round(least(lit(1.0), nTok / lit(200.0)) * uniqRatio, 6)
    val bySource = Window.partitionBy(col("source")).orderBy(col("quality_score"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), score.as("quality_score"))
      .withColumn("q_in_source", round(percent_rank().over(bySource), 6))
      .orderBy("doc_id")
  }

  /** B10 — document fingerprinting: winnowing-style rolling fingerprint —
    * hash every k-token shingle, keep the minimum (and the document-level
    * hash). The shingle hashing runs in the codegen'd ShingleHashes
    * expression (one tight md5 loop per row; the composed
    * transform-over-sequence formulation evaluates an interpreted lambda
    * per shingle — this repo's measured 20× bench trap, VERDICT r3 #2).
    * The fingerprint is the numeric min of the 60-bit md5-prefix hashes
    * (min is dedup-invariant, so distinct-shingle hashing changes nothing);
    * n_shingles counts the distinct shingles the fingerprint ranged over.
    * Pure per-row array ops, no shuffle.
    */
  def fingerprint(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val hv = graft.functions.VectorExpressions
      .shingleHashes(col("text"), k).getField("hv")
    Tables.documents(spark, dir)
      .withColumn("hv", hv)
      .select(
        col("doc_id"),
        md5(col("text")).as("doc_hash"),
        array_min(col("hv")).as("min_shingle_hash"),
        size(col("hv")).cast("long").as("n_shingles")
      )
      .orderBy("doc_id")
  }

  /** B8c — compression-ratio quality scoring (r15): per-doc
    * `octet_length / deflate_size` at zlib level 6 — the compressibility
    * filter production curation stacks run alongside the heuristic and
    * model scores: repetitive/templated text deflates far below natural
    * prose (ratio ≫), while high-entropy noise barely deflates (ratio ≈ 1),
    * so BOTH tails are suspect and `keep` brackets the ratio. Catches what
    * token-level heuristics miss — sub-token repetition ("ababab…"),
    * long-range template structure beyond any n-gram window — and needs no
    * vocabulary or training.
    *
    * The deflate runs in a custom expression (one Deflater lifecycle per
    * row, CodegenFallback — the deflate itself dwarfs the interpreted-eval
    * overhead); pure per-row projection, zero shuffle, scan-speed at any
    * scale. zlib output is JVM-library-deterministic, not a cross-engine
    * constant — registered ROWS-ONLY with an exact in-JVM Deflater replay
    * spec (the B37/B61 evidence pattern).
    */
  def compressionRatio(spark: SparkSession, dir: String, level: Int = 6,
                       minRatio: Double = 1.5, maxRatio: Double = 4.0): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("octet_length(text)").cast("long").as("n_bytes"),
        graft.functions.VectorExpressions.deflatedSize(col("text"), level)
          .as("n_deflate"))
      .withColumn("ratio",
        round(col("n_bytes").cast("double") / col("n_deflate"), 6))
      .withColumn("keep", col("ratio") >= minRatio && col("ratio") <= maxRatio)
      .orderBy("doc_id")

  /** B10b — full WINNOWING fingerprints (r15): the Schleimer-Wilkerson-
    * Aiken scheme B10's single min-hash summarizes — per doc, the selected
    * (position, k-gram hash) set where each window of `w` consecutive gram
    * positions contributes its minimum hash, ties to the RIGHTMOST
    * occurrence. The guarantee that makes it the standard local
    * fingerprint: any shared run of ≥ w+k−1 tokens between two documents
    * shares at least one selected fingerprint, at an expected density of
    * only 2/(w+1) of positions — the index a plagiarism/overlap system
    * stores instead of every gram. Defaults k=5, w=4 ⇒ guarantee threshold
    * 8 tokens, aligned with the corpus' 8-gram decontamination convention.
    *
    * The rightmost-min-per-window selection is ONE window pass in both
    * engines: each position's (hash, position) is encoded as a fixed-width
    * sortable string — 15 lowercase hex chars of the 60-bit hash, then
    * 999999−pos zero-padded — whose lexicographic min IS (smallest hash,
    * rightmost position); a sliding ROWS frame takes the min per window,
    * full windows only (docs shorter than k+w−1 tokens carry no full
    * window and are excluded, B13c's sub-k rule), distinct collapses
    * repeated picks. Positions are 1-based gram starts; the 999999 pad
    * bounds docs at ~1M grams — far beyond any chunked training doc.
    *
    * Scale shape: positional-hash explode (the B13c pass), one per-doc
    * ordered window (w-row frame, streams), one distinct — partial-
    * aggregated, selection-cardinality ≈ 2n/(w+1).
    */
  def winnowFingerprint(spark: SparkSession, dir: String,
                        k: Int = 5, w: Int = 4): DataFrame = {
    val st = Dedup.positionalGrams(Tables.documents(spark, dir)
      .where(size(split(col("text"), " ")) >= k + w - 1), k)
    val key = concat(lower(lpad(hex(col("h")), 15, "0")),
      format_string("%06d", lit(999999) - col("pos")))
    val win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(w - 1), 0)
    st.withColumn("sel", min(key).over(win))
      .where(col("pos") >= w) // full windows only
      .select(col("doc_id"), col("sel")).distinct()
      .select(col("doc_id"),
        (lit(999999L) - substring(col("sel"), 16, 6).cast("long")).as("pos"),
        conv(substring(col("sel"), 1, 15), 16, 10).cast("long").as("fp_hash"))
      .orderBy("doc_id", "pos")
  }

  /** B8b — token-diversity entropy (r15): per-doc Shannon entropy of the
    * unigram distribution, the information-theoretic repetition signal that
    * complements B14's fraction heuristics (a doc cycling ten tokens
    * evades top-token and dup-gram thresholds but its entropy pins it at
    * ln 10). Computed in the numerically PORTABLE form
    * `H = ln(n) − (Σ c·ln c)/n` — every `ln` argument is an exact integer
    * on both engines (the lm_perplexity float budget), rounded at 6 dp;
    * `norm_entropy` = H/ln(n_distinct) ∈ [0,1] rescales away length so one
    * threshold works across short and long docs (0 for single-token docs,
    * where the ratio is 0/0).
    *
    * Scale shape (r17): ZERO shuffle — per-doc token counts are
    * per-document facts, so the explode → groupBy(doc, tok) →
    * groupBy(doc) formulation (measured 4.96× the anchor at 50×, all
    * exchange) collapses to one [[VectorExpressions.tokenEntropyStats]]
    * scan producing (n_tokens, n_distinct, Σ c·ln c) row-local; the rest
    * of the plan is a pure projection. Same ln (java.lang.Math.log), same
    * 6 dp rounding — oracle parity unchanged.
    */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      // explode-drop parity (ADVICE r17 #3): the pre-r17 explode+groupBy
      // plan dropped a null-text doc entirely (explode of null emits no
      // rows — exactly the oracle's unnest), but the kernel projection
      // would emit a null-stats row for it. Filter keeps the two plans
      // row-identical if the corpus ever carries a null text.
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.VectorExpressions.tokenEntropyStats(col("text")).as("st"))
      .select(col("doc_id"), col("st.n_tokens").as("n_tokens"),
        col("st.n_distinct").as("n_distinct"), col("st.s").as("s"))
      .withColumn("raw", log(col("n_tokens").cast("double")) - col("s") / col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(col("raw"), 6).as("entropy"),
        when(col("n_distinct") > 1,
          round(col("raw") / log(col("n_distinct").cast("double")), 6))
          .otherwise(lit(0.0)).as("norm_entropy"))
      .orderBy("doc_id")
  }

  /** B55 — language-ID confusion matrix: B7's prediction against the
    * corpus' declared label, aggregated to (declared, predicted) cells with
    * each cell's share of its declared language — the "is my language
    * classifier good enough to route curation on" QA answer, and the
    * per-language recall readout (diagonal cells) a multilingual pipeline
    * tracks release over release. Composes [[langId]] unchanged, so the
    * confusion is over EXACTLY the registered classifier, not a drifting
    * copy.
    *
    * Scale: the per-doc prediction is B7's scan-speed pass; the confusion
    * collapses map-side to ≤ langs² cells, and the share window runs over
    * that tiny aggregate — nothing post-scan scales with corpus size.
    */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val perDeclared = Window.partitionBy(col("lang_declared"))
    langId(spark, dir)
      .groupBy(col("lang_declared"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("frac_of_declared",
        round(col("n_docs").cast("double") / sum(col("n_docs")).over(perDeclared), 6))
      .orderBy("lang_declared", "lang_pred")
  }
}
