package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse-text relevance operators (SURVEY.md §2 B27/B28): document
  * similarity over an inverted token index and bigram collocation mining.
  * Both are the df-capped keyed-join shapes sparse retrieval systems use at
  * scale — candidates ever meet only on a shared (rare) token, never
  * all-pairs, and the df cap is the knob that bounds the worst key.
  */
object Relevance {

  /** Add-k smoothing of the registered bigram LM ([[lmPerplexity]]). */
  val DefaultAddK: Double = 0.5

  /** Corpus bigram count that makes a bigram common ([[bigramCoverage]]). */
  val DefaultMinCount: Long = 5L

  /** B27 — sparse document similarity via an inverted index: cosine over
    * binary rare-token vectors, `|A∩B| / sqrt(|A|·|B|)`.
    *
    * The scale shape is the classic df-capped inverted index:
    *  1. distinct (doc, token) pairs (map-side combine collapses a token
    *     repeated within one doc before the shuffle);
    *  2. df per token, keeping only `2 <= df <= maxDf` — a token shared by
    *     more than maxDf docs is a stopword for similarity purposes AND the
    *     quadratic hot key that would melt the self-join, so one cap serves
    *     relevance and scale at once: each surviving token contributes at
    *     most maxDf·(maxDf−1)/2 candidate pairs regardless of corpus size;
    *  3. the self-join meets docs ONLY on shared surviving tokens
    *     (`doc_a < doc_b` halves the pairs), partial-aggregated count of
    *     shared tokens per pair;
    *  4. two keyed joins attach the per-doc vector sizes.
    *
    * The (doc, token) index is persisted: it feeds the df count AND (via
    * the rare-token join) the size table and both sides of the self-join,
    * so the shingling — the widest computation in the query — runs exactly
    * once (the bench harness drops the blocks between queries — each run
    * stays cold). df is computed by groupBy, NOT a count-over-window: the
    * groupBy partial-aggregates map-side, so a stopword token present in
    * millions of docs shuffles as one row per mapper, where a window would
    * haul every occurrence of the hot token to a single reducer before the
    * cap could drop it. The surviving vocabulary is bounded (each token ≤
    * maxDf docs), so AQE broadcasts the rare side and `kept` never
    * re-shuffles the index.
    *
    * The score is engine-exact: integers into one IEEE sqrt and one divide
    * (both correctly rounded on Spark and DuckDB), unlike a float tf-idf
    * dot product whose sum order differs per engine.
    *
    * The index unit is a `shingleN`-word shingle (default 3). Unigrams only
    * discriminate when the vocabulary is large; on a small-vocabulary corpus
    * every word is a stopword by the df cap and the index goes empty, while
    * word shingles recover a long-tailed df distribution from word ORDER —
    * the same reason MinHash shingles rather than bags words. `shingleN = 1`
    * gives the classic unigram index.
    *
    * The indexed token is the 60-bit md5-based shingle hash from the
    * codegen-friendly [[graft.functions.VectorExpressions.shingleHashes]]
    * pass (also the MinHash base hasher): one tight loop per row replaces
    * an interpreted shingle lambda, the expression dedups shingles per doc
    * so NO distinct shuffle is needed (explode of a distinct array is
    * distinct (doc, token) by construction), and the index shuffles 8-byte
    * longs instead of shingle strings. DuckDB replays the identical hash —
    * ('0x' || substr(md5(shingle), 1, 15))::BIGINT — so even a hash
    * collision (≈0 at 2^60) collides identically in both engines. A doc
    * shorter than `shingleN` words contributes its whole text as its one
    * shingle (ShingleHashes semantics, replayed by the oracle).
    */
  def sparseCosinePairs(spark: SparkSession, dir: String,
                        maxDf: Int = 10, minShared: Int = 3,
                        shingleN: Int = 3): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.VectorExpressions
          .shingleHashes(col("text"), shingleN)
          .getField("hv")).as("token"))
      .persist()
    val rare = tok.groupBy("token").agg(count(lit(1)).as("df"))
      .where(col("df").between(2, maxDf))
      .select("token")
    // `kept` — the df-capped index — feeds both self-join sides, so it is
    // persisted too: r6 cached only tok, and each kept consumer re-ran the
    // full-index df aggregation against the cache — the corpus-wide token
    // shuffle, the query's dominant shuffle, executed per consumer. Both
    // persists are LAZY (no count()
    // materialization job): the cache fills during the one output action,
    // and an explicit extra job wave measured strictly slower at sf0.1.
    // A posting-list variant (collect_list per rare token — bounded, ≤
    // maxDf — then local pair explosion, saving the self-join's two
    // exchanges) was measured 2× SLOWER than this shape at sf0.1:
    // collect_list forces ObjectHashAggregate off the whole-stage-codegen
    // path, costing more than the exchanges it saves. Remaining wall time
    // here is Spark's per-stage-wave floor, not plan waste: a bare
    // tok.count() — one scan + shingle explode, none of the similarity
    // work — measures 0.43 s warm at sf0.1, already 1.5× the DuckDB
    // anchor for the ENTIRE query (0.28 s), and this plan needs ~5
    // dependent stage waves (explode→df→join→pair-agg→attach/sort). At
    // 260k index rows the data is pennies; the waves are the cost. At
    // 100 TB the same plan is the one you'd want: single shingle pass,
    // df-capped keys, broadcast rare set, partial-aggregated pair counts.
    // Both persists fill during the caller's action and are released by
    // graft.Caches.clear (see Caches for the long-lived-session contract).
    // Each index row carries its doc's vector size `n` (count over a
    // doc_id window): r7 computed sizes as a separate groupBy and attached
    // them to the pair list through TWO more keyed joins — three extra
    // stage waves to move one integer. The window is one doc_id-keyed
    // shuffle of the capped index, bounded per task by doc length (a doc's
    // rare tokens), and the self-join then delivers na/nb for free via
    // max() in the pair aggregate (constant within a group).
    val kept = tok.join(rare, Seq("token"))
      .select(col("token"), col("doc_id"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .persist()
    val pairs = kept
      .select(col("token"), col("doc_id").as("doc_a"), col("n").as("na"))
      .join(kept.select(col("token"), col("doc_id").as("doc_b"), col("n").as("nb")),
        Seq("token"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"), max(col("na")).as("na"), max(col("nb")).as("nb"))
      .where(col("shared") >= minShared)
    pairs
      .select(col("doc_a"), col("doc_b"), col("shared"),
        round(col("shared") / sqrt((col("na") * col("nb")).cast("double")), 6)
          .as("cosine"))
      .orderBy("doc_a", "doc_b")
  }

  /** B28 — bigram collocation mining: adjacent token pairs whose corpus
    * frequency beats chance, scored by LIFT
    * `count(xy) · N / (count(x) · count(y))` — pointwise mutual information
    * without the log (PMI's `ln` differs in the last ulp across math
    * libraries; lift is an integer-ratio divide, engine-exact, and induces
    * the same ranking).
    *
    * Shapes: bigrams explode per row (zero shuffle), global bigram counts
    * partial-aggregate map-side, the unigram attach is two token-keyed
    * joins, N is one broadcast scalar. Top-k by TakeOrdered — no global
    * sort. All counting is occurrence-based (a pair repeated in one doc
    * counts each time), the standard collocation statistic.
    */
  /** B33 — bigram-coverage quality score: per document, the fraction of its
    * bigram OCCURRENCES whose corpus-wide count reaches `minCount`. A
    * well-formed document is built almost entirely of word transitions the
    * corpus has seen before; machine-generated gibberish, OCR damage, and
    * wrong-language fragments are exactly the docs whose transitions are
    * corpus-rare. This is the integer-exact stand-in for an n-gram
    * LM-perplexity filter: log-probabilities differ in the last ulp across
    * math libraries, while a count threshold plus one final rounded divide
    * is engine-exact and ranks the same tails.
    *
    * Scale shape: bigrams explode per row (zero shuffle), per-(doc, bigram)
    * counts partial-aggregate map-side BEFORE the corpus-count shuffle, the
    * common-set attach is a keyed equi-join on the bigram (hot bigrams cost
    * one row per doc that contains them, never a blowup), and the per-doc
    * re-aggregation partial-aggregates again. Nothing is ever all-pairs;
    * text never shuffles (bigram strings do, once, pre-aggregated).
    * Zero-bigram docs (≤ 1 token) surface with n_bigrams = 0 and a null
    * coverage rather than silently vanishing.
    */
  def bigramCoverage(spark: SparkSession, dir: String,
                     minCount: Long = DefaultMinCount): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // Persisted: feeds BOTH the corpus-count aggregate and the scoring join
    // (different aggregates — no exchange reuse), so the tokenize runs
    // once, exactly like sparseCosinePairs' index. Lazily persisted —
    // released by graft.Caches.clear (see Caches). r17: per-(doc, bigram)
    // counts are per-document facts, so NgramCounts derives the frame
    // MAP-SIDE — the groupBy(doc_id, bigram) exchange (the plan's widest,
    // one row per distinct bigram per doc) no longer exists; the corpus
    // aggregate partial-combines to bigram-vocabulary rows per partition
    // and the scoring aggregate collapses to one row per doc before
    // either shuffles.
    val perDoc = docs
      .select(col("doc_id"), explode(graft.functions.VectorExpressions
        .ngramCounts(col("text"), 2)).as("g"))
      .select(col("doc_id"), col("g.g").as("bigram"), col("g.c").as("cnt"))
      .persist()
    val common = perDoc.groupBy("bigram").agg(sum(col("cnt")).as("tot"))
      .where(col("tot") >= minCount)
      .select(col("bigram"), lit(1L).as("is_common"))
    val scored = perDoc.join(common, Seq("bigram"), "left_outer")
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(when(col("is_common").isNotNull, col("cnt")).otherwise(0L)).as("n_common"))
    docs.select(col("doc_id"), col("lang"))
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        when(col("n_bigrams").isNull, lit(null).cast("double"))
          .otherwise(round(col("n_common").cast("double") / col("n_bigrams").cast("double"), 6))
          .as("coverage"))
      .orderBy("doc_id")
  }

  /** B35 — bigram language-model perplexity (the CCNet-style quality
    * filter, real log-probabilities this time): train an add-k-smoothed
    * bigram LM on the corpus itself, score every document by its
    * cross-entropy under that model. High-perplexity documents are the
    * gibberish/OCR-damage/wrong-language tail a pretraining pipeline drops;
    * [[bigramCoverage]] is the integer-exact screen, this is the standard
    * statistic (what CCNet computes with a KenLM model — here the "model"
    * is the corpus's own bigram table, which is what you want for
    * self-referential outlier scoring).
    *
    * Model: `p(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V)` with k = 0.5,
    * `c(w1·)` the bigram-START count (so Σ_w2 p = 1 exactly) and V the
    * corpus-wide distinct-token count. Per doc over its n bigram positions:
    * `cross_entropy = -(1/n) Σ ln p`, `perplexity = exp(cross_entropy)`.
    *
    * Scale shape (mirrors [[bigramCoverage]]): bigrams explode per row with
    * zero shuffle; per-(doc, bigram) counts partial-aggregate map-side
    * BEFORE any shuffle and the persisted result feeds BOTH the model
    * aggregation and the scoring join, so the explode runs once; the model
    * tables aggregate by bigram/start-token (map-side combined — a hot
    * bigram shuffles one row per mapper, never one per occurrence); V is a
    * broadcast 1-row scalar; the scoring join is a keyed equi-join on the
    * bigram whose model side is bounded by the bigram vocabulary, not the
    * corpus — AQE broadcasts it when small. Nothing is all-pairs; text
    * never shuffles.
    *
    * Float-parity budget (vs the DuckDB oracle): the ln argument is exact
    * in both engines (integer counts + 0.5 into one correctly-rounded
    * divide), so per-term disagreement is the ln libraries' ≤1-ulp
    * (~1e-16 relative); the per-doc weighted sum adds order-dependent
    * rounding ~n·ulp(Σ) ≈ 1e-13 absolute. Both are ~7 orders of magnitude
    * below the 5e-7 half-step of `round(·, 6)`, so the rounded outputs
    * hash-match (a boundary hit needs the true value within ~1e-13 of a
    * rounding edge). Docs with < 2 tokens have no bigrams and keep a row
    * with n_bigrams = 0 and null scores rather than vanishing.
    */
  def lmPerplexity(spark: SparkSession, dir: String, addK: Double = DefaultAddK): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (perDoc, model) = bigramModel(docs, addK)
    val scored = perDoc.join(model.select(col("bigram"), col("lp")), Seq("bigram"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(col("cnt") * col("lp")).as("s"))
    docs.select(col("doc_id"), col("lang"))
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(-col("s") / col("n_bigrams"), 6).as("cross_entropy"),
        round(exp(-col("s") / col("n_bigrams")), 4).as("perplexity"))
      .orderBy("doc_id")
  }

  /** The add-k bigram model of [[lmPerplexity]] and
    * [[graft.ops.Curation.qualityEnsemble]]'s signals: per-(doc, bigram)
    * counts (doc_id, bigram, cnt) and the corpus model (bigram, cbi, lp),
    * lp = ln((c(w1 w2) + addK) / (c(w1 ·) + addK·|V|)), both read from one
    * persisted multi-order kernel pass.
    */
  private[ops] def bigramModel(docs: DataFrame, addK: Double): (DataFrame, DataFrame) = {
    // Persisted: feeds the corpus bigram counts, the vocab scalar, AND the
    // scoring join. Lazily persisted — released by graft.Caches.clear (see
    // Caches). r17: per-(doc, bigram) counts derive MAP-SIDE (NgramCounts —
    // the same kernel surgery as collocations/bigramCoverage), so the
    // groupBy(doc, w1, w2) exchange is gone; the bigram travels as ONE
    // space-joined string and splits into its start token only on the
    // vocabulary-sized model table (tokens are space-free, so the first
    // space is an unambiguous seam). r19 (guide §2.4): the vocab scalar
    // needed a SECOND full tokenize scan (NgramCounts n=1 over the same
    // corpus); the multi-order kernel emits both orders in ONE pass, so
    // vocab now reads the same persisted frame. Counts per order are
    // bit-identical to the per-order kernel (FunctionsSpec pins it) —
    // arithmetic unchanged token for token, lmPerplexity's float budget holds.
    // The cache holds the UNEXPLODED per-doc gram arrays — one row per doc,
    // not one per gram: the array cache is corpus-row-count sized and each
    // consumer re-explodes it at Generate speed, so the expensive work
    // (split + per-doc counting) is paid once while the cache stays small.
    // LAZY fill, measured both ways at sf0.1 AND 50× (min-of-reps, cold
    // caches per sample): a blocking count() before the consumers
    // serializes the whole tokenize pass onto the critical path and LOST
    // at both scales (sf0.1 1.75 s vs 1.23 s lazy; 50× 3.90 s vs 3.23 s
    // lazy) — concurrent first readers under AQE may duplicate some
    // unfilled-partition work, but that duplication overlaps on otherwise
    // idle cores and costs less than the serialized fill at every scale
    // measured.
    val gramArrs = docs.select(col("doc_id"),
        graft.functions.VectorExpressions.ngramMultiCounts(col("text"), 2).as("garr"))
      .persist()
    def ordRows(n: Int): DataFrame = gramArrs
      .select(col("doc_id"), explode(col("garr")).as("g"))
      .where(col("g.n") === n)
      .select(col("doc_id"), col("g.g").as("gram"), col("g.c").as("cnt"))
    val perDoc = ordRows(2)
      .select(col("doc_id"), col("gram").as("bigram"), col("cnt"))
    val bi = perDoc.groupBy("bigram").agg(sum(col("cnt")).as("cbi"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val starts = bi.groupBy("w1").agg(sum(col("cbi")).as("cw"))
    val vocab = ordRows(1).agg(count_distinct(col("gram")).as("vocab"))
    val model = bi.join(starts, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("bigram"), col("cbi"),
        log((col("cbi") + lit(addK)) / (col("cw") + lit(addK) * col("vocab"))).as("lp"))
    (perDoc, model)
  }

  /** B44 — CCNet-style perplexity buckets (Wenzek et al. 2020,
    * arXiv:1911.00359 §4.3): split each language's corpus into
    * head / middle / tail TERCILES by LM perplexity — CCNet's curation
    * currency ("train on head+middle, drop tail", or sample by bucket).
    * Composes [[lmPerplexity]]: the per-doc perplexity is the registered
    * B35 statistic, already hash-verified against the oracle.
    *
    * Buckets are threshold-based, exactly as CCNet computes them: per-lang
    * cutoffs at the 1/3 and 2/3 quantiles (`quantile_cont` interpolation —
    * the same cross-engine-exact `percentile` contract as C9), then a
    * scan-speed comparison. `ppl <= cut` is closed on both cutoffs so a
    * document sitting exactly on an interpolated threshold (possible when
    * adjacent 4-dp perplexities collide, e.g. exact-duplicate docs) lands
    * in the lower bucket on both engines. Zero-bigram docs have no
    * perplexity and keep a null bucket rather than vanishing (CCNet drops
    * them; the caller filters).
    *
    * Scale shape: the cutoff aggregate produces one row per language
    * (exact percentile buffers one lang's values — the same documented C9
    * trade; the 100 TB swap is `percentile_approx`, one line, mergeable
    * sketches), broadcasts back, and the assignment is a pure projection.
    * Nothing here adds a shuffle beyond lmPerplexity's own.
    */
  def pplBuckets(spark: SparkSession, dir: String, addK: Double = DefaultAddK): DataFrame = {
    val ps = Seq(1.0 / 3, 2.0 / 3)
    // Persisted: the composed perplexity frame feeds BOTH the cutoff
    // aggregate and the final assignment join — without the persist each
    // consumer replays lmPerplexity's whole scoring tail (logProb join +
    // per-doc aggregate), doubling the suite's most expensive query for no
    // semantic difference (VERDICT r11 "What's wrong" #2). Lazily
    // persisted, released by graft.Caches.clear like lmPerplexity's own
    // perDoc cache.
    val ppl = lmPerplexity(spark, dir, addK).persist()
    val cuts = ppl.where(col("perplexity").isNotNull)
      .groupBy("lang")
      .agg(expr(s"percentile(perplexity, array(${ps.mkString(", ")}))").as("pct"))
      .select(col("lang"),
        element_at(col("pct"), 1).as("cut1"), element_at(col("pct"), 2).as("cut2"))
    ppl.join(broadcast(cuts), Seq("lang"), "left_outer")
      .select(col("doc_id"), col("lang"), col("perplexity"),
        when(col("perplexity").isNull, lit(null).cast("string"))
          .when(col("perplexity") <= col("cut1"), lit("head"))
          .when(col("perplexity") <= col("cut2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .orderBy("doc_id")
  }

  def collocations(spark: SparkSession, dir: String,
                   minCount: Int = 5, k: Int = 50): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // r17 kernel reshape (the bm25 TermFrequencies surgery, VERDICT r16
    // #6): both explodes ran interpreted per-position lambdas and shipped
    // one row per n-gram OCCURRENCE into the groupBy (5.6× the anchor at
    // 50×, all exchange + lambda). NgramCounts pre-aggregates within the
    // doc in one tight tokenize pass, so the explode carries distinct
    // grams per doc and the shuffle carries (gram, count) — Σ c is the
    // occurrence total bit-for-bit, so the pair/unigram aggregates (and
    // the oracle) are unchanged. The bigram travels as ONE space-joined
    // string and splits back into (w1, w2) only on the minSupport-pruned
    // pair table (tokens are space-free by construction, so the first
    // space is an unambiguous seam).
    val pairCnt = docs
      .select(explode(graft.functions.VectorExpressions
        .ngramCounts(col("text"), 2)).as("g"))
      .groupBy(col("g.g").as("bigram")).agg(sum(col("g.c")).as("pair_cnt"))
      .where(col("pair_cnt") >= minCount)
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", expr("substring(bigram, instr(bigram, ' ') + 1)"))
    val uni = docs
      .select(explode(graft.functions.VectorExpressions
        .ngramCounts(col("text"), 1)).as("g"))
      .groupBy(col("g.g").as("w")).agg(sum(col("g.c")).as("cnt"))
    val n = uni.agg(sum("cnt").as("n_tokens"))
    pairCnt
      .join(uni.select(col("w").as("w1"), col("cnt").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cnt").as("c2")), Seq("w2"))
      .crossJoin(broadcast(n))
      // cast BEFORE multiplying: stopword unigram counts reach ~1e12 at the
      // 100 TB target, so c1*c2 as longs wraps past Long.MaxValue into
      // garbage lift values (double*double is exact for counts < 2^53 and
      // merely loses ulps beyond — a rounding error, not a sign flip)
      .select(col("w1"), col("w2"), col("pair_cnt"),
        round((col("pair_cnt").cast("double") * col("n_tokens").cast("double")) /
          (col("c1").cast("double") * col("c2").cast("double")), 6).as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** B53 — BM25 keyword search (Robertson-Sparck Jones; the Okapi BM25
    * formulation every lexical retrieval system ships): top-k documents for
    * a query-term set, scored `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`
    * with `idf = ln(1 + (N−df+0.5)/(df+0.5))`. The retrieval half of the
    * relevance story — B27 ranks doc-doc similarity, this ranks docs
    * against a QUERY, the "find me training examples about X" probe.
    *
    * Scale shapes: the term filter prunes the exploded stream BEFORE any
    * shuffle (only query-term occurrences survive — |terms| is user-query
    * sized, so the tf table carries ≤ |terms| rows per doc); df and the
    * corpus scalars (N, Σdl) are partial-aggregated to |terms| rows + one
    * row and attach as broadcasts; the final top-k is TakeOrdered (limit
    * over sort), never a global sort materialization.
    *
    * Engine-exactness: every input to the score is an exact integer (tf,
    * df, N, dl, Σdl) or a decimal literal both engines parse to the same
    * double; the arithmetic tree is written identically in the oracle SQL
    * (constants composed IN-ENGINE — `k1 + 1.0` stays a runtime add, since
    * a Scala-side `1.2 + 1` and a SQL literal `2.2` are different doubles),
    * and the per-doc sum rounds to 6 dp before ranking — the same float
    * budget as lmPerplexity, ulp-level summation-order noise orders below
    * the rounding step. Ties break on doc_id so the top-k cut is
    * deterministic on both engines.
    */
  def bm25Search(spark: SparkSession, dir: String,
                 terms: Seq[String] = Seq("spark", "window", "merge"),
                 k1: Double = 1.2, b: Double = 0.75, topK: Int = 50): DataFrame = {
    // The graft_bm25 SQL TVF exposes arbitrary user term arrays: a repeated
    // term must score once (the grouped-by-term plan this kernel replaced
    // collapsed duplicates), and zero terms has no scoreable plan.
    require(terms.nonEmpty, "bm25Search: terms must be non-empty")
    val ts = terms.distinct
    // ONE allocation-free corpus scan (TermFrequencies, D1) feeds both
    // consumers. The split → explode → filter → groupBy formulation this
    // replaces shuffled every matched token, replayed the full tokenize for
    // df, and shuffled again to re-group scores by doc (measured in the r15
    // 50× plan: three full corpus passes + three exchanges). Per-doc term
    // counts are per-document FACTS — one scan produces them; everything
    // corpus-level the score needs (N, Σdl, and per-term df) collapses to
    // ONE broadcast row; the per-term contributions then unroll as plain
    // codegen'd arithmetic over the counts array, so the only remaining
    // exchanges are the 1-row stats agg and the TakeOrdered top-k. The
    // persisted frame is (doc_id, dl, tf[|terms|]) ≈ a few longs per doc.
    val tc = termCounts(Tables.documents(spark, dir), ts).persist()
    def tfi(i: Int) = element_at(col("tfs"), i + 1)
    val statAggs =
      Seq(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")) ++
        ts.indices.map(i => sum((tfi(i) > 0).cast("long")).as(s"df_$i"))
    val stats = tc.agg(statAggs.head, statAggs.tail: _*)
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    def idf(i: Int) =
      log(lit(1.0) + (col("n_docs") - col(s"df_$i") + lit(0.5)) / (col(s"df_$i") + lit(0.5)))
    // matched-term guard per contribution: an unmatched term adds exact 0.0
    // (never NaN/-0.0), so the unrolled sum equals the oracle's per-doc sum
    // up to summation order — orders below the 6 dp rounding step
    def contrib(i: Int) = when(tfi(i) > 0,
      idf(i) * (tfi(i) * (lit(k1) + lit(1.0))) /
        (tfi(i) + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl)))
      .otherwise(lit(0.0))
    tc.crossJoin(broadcast(stats))
      .where(ts.indices.map(i => tfi(i) > 0).reduce(_ || _))
      .select(col("doc_id"),
        ts.indices.map(i => (tfi(i) > 0).cast("long")).reduce(_ + _).as("n_terms"),
        round(ts.indices.map(contrib).reduce(_ + _), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** The BM25 scan kernel shared by [[bm25Search]] and [[hybridSearch]]:
    * (doc_id, dl, tf[terms-aligned]) in one TermFrequencies pass — callers
    * persist it (it feeds tf rows, df, and corpus stats).
    */
  private def termCounts(docs: DataFrame, terms: Seq[String]): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.VectorExpressions.termFrequencies(col("text"), terms).as("tc"))
      .select(col("doc_id"), col("tc.dl").as("dl"), col("tc.tf").as("tfs"))

  /** (doc_id, dl, w, tf) rows with tf > 0, derived map-side from a
    * [[termCounts]] frame — the shape the split/explode/groupBy plan
    * produced, without the token shuffle.
    */
  private def termFrequencyRows(tc: DataFrame, terms: Seq[String]): DataFrame =
    tc.select(col("doc_id"), col("dl"),
        posexplode(col("tfs")).as(Seq("i", "tf")))
      .where(col("tf") > 0)
      .select(col("doc_id"), col("dl"),
        element_at(typedLit(terms), col("i") + 1).as("w"), col("tf"))

  /** B53b — exact PHRASE-occurrence search: every (doc_id, pos) where a
    * k-token phrase occurs, corpus-wide — B53's exact-match complement
    * (BM25 ranks by bag-of-terms; this locates literal phrases) and the
    * forensic primitive behind B13c/B34 ("where exactly does this leaked /
    * boilerplate fragment appear?"). One codegen'd positional-hash pass
    * (the SAME pass B34/B67/B68 price — position-aligned 60-bit md5-prefix
    * k-gram hashes) feeds a hash-keyed probe: matching a phrase is an
    * equi-join against ONE broadcast hash, at scan speed, never a string
    * scan. 60-bit hashes make a false hit ~2⁻⁶⁰ per position; a paranoid
    * caller re-verifies survivors with a substring compare (positions make
    * it a per-row slice — noted, not paid by default).
    *
    * The REGISTERED query derives its probe phrase in-corpus — the
    * dominant k-gram by (count desc, hash asc) — so the query is
    * non-vacuous at every SF without a pinned literal that a testdata
    * regen could orphan; [[phraseOccurrences]] is the explicit-phrase
    * production seam. Scale shape: the dominant-gram derivation is a
    * map-side-combined groupBy collapsed to ONE row (TakeOrdered of 1);
    * the probe join broadcasts that row; the positional frame persists so
    * derive + probe share a single hashing pass.
    */
  def phraseSearch(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val pos = positionalFrame(Tables.documents(spark, dir), k).persist()
    val top = pos.groupBy("h").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("h")).limit(1)
    pos.join(broadcast(top), Seq("h"))
      .select(col("doc_id"), col("pos"), col("source"), col("n_occurrences"))
      .orderBy("doc_id", "pos")
  }

  /** [[phraseSearch]]'s production seam: occurrences of an EXPLICIT
    * phrase (k = its token count), hashed driver-side with the same md5
    * scheme the positional pass uses.
    */
  def phraseOccurrences(docs: DataFrame, phrase: String): DataFrame = {
    val toks = phrase.split(" ").filter(_.nonEmpty)
    require(toks.nonEmpty, "empty phrase")
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(toks.mkString(" ").getBytes("UTF-8")).map("%02x".format(_)).mkString
    val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    positionalFrame(docs, toks.length)
      .where(col("h") === h)
      .select(col("doc_id"), col("pos"), col("source"))
      .orderBy("doc_id", "pos")
  }

  /** (doc_id, source, pos 1-based, h): position-aligned k-gram hashes. */
  private def positionalFrame(docs: DataFrame, k: Int): DataFrame =
    Dedup.positionalGrams(docs, k, "source").withColumn("pos", col("pos").cast("long"))

  /** B53c — HYBRID retrieval: reciprocal-rank fusion of a lexical BM25
    * pool (B53's scorer, per-query term sets) and a semantic exact-cosine
    * pool (B5's scorer, the query's own embedding) — the fusion every
    * production retrieval stack runs, because the two systems fail
    * differently (BM25 misses paraphrase, dense misses rare literals) and
    * RRF `Σ 1/(rrfK + rank)` combines them without score calibration
    * (ranks are comparable when raw scores are not; Cormack et al.'s
    * result, and the default fusion in Elasticsearch/Vespa/Weaviate).
    * Each query q is one retrieval unit: its term set searches
    * `documents`, its embedding (vec_id = q) searches `embeddings`
    * (doc_id ≡ vec_id in this corpus), and docs surface with their fused
    * score plus BOTH contributing ranks (null = that system missed it —
    * the audit columns a relevance engineer reads first).
    *
    * Scale shapes, per side: the lexical pool is B53's exact plan — the
    * term filter prunes the exploded stream before any shuffle, the
    * (doc, dl, w) tf frame PERSISTS because it feeds both the df count
    * and the per-query scoring join, df/corpus scalars attach as
    * broadcasts, per-query fan-out is a broadcast join against the
    * |queries|·|terms|-row term table. The semantic pool is B5's exact
    * plan — query vectors broadcast, one codegen'd cosine pass. BOTH pool
    * cuts are TWO-LEVEL top-k (B32's hot-key scaffold): rank first inside
    * (query, hash-shard) partitions — corpus-sized rows sort across
    * shards·|queries| tasks — then rank the ≤ shards·poolK survivors per
    * query; a single per-query window would serialize a corpus-sized sort
    * into |queries| tasks, the exact skew this engine bans (measured here:
    * 11.8 s → ~2 s at 50× docs). The fusion is a full-outer join on
    * (query, doc) over two ≤ |queries|·poolK-row pools — fusion cost never
    * scales with the corpus, only the pools do. At 100 TB the semantic
    * side swaps to B5's IVF/LSH probe (same rank contract); RRF is
    * retrieval-agnostic.
    *
    * Engine-exactness: both pool scores round to 6 dp BEFORE ranking
    * (B53/B5's discipline), ranks are exact ints, `1/(rrfK + rank)` is
    * one double op per system, and the fused sum rounds to 6 dp before
    * the final rank; every tie breaks on doc_id.
    */
  def hybridSearch(spark: SparkSession, dir: String,
                   queries: Seq[(Long, Seq[String])] =
                     Seq(0L -> Seq("spark", "window", "merge"),
                         1L -> Seq("customer", "join", "stream")),
                   k1: Double = 1.2, b: Double = 0.75,
                   poolK: Int = 50, rrfK: Int = 60, topK: Int = 10): DataFrame = {
    require(queries.nonEmpty, "hybridSearch: queries must be non-empty")
    // ---- semantic pool: exact cosine vs each query's own embedding ----
    val emb = Tables.embeddings(spark, dir)
    val qVecs = emb.where(col("vec_id").isin(queries.map(q => q._1): _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val sem = poolCut(emb.join(broadcast(qVecs), col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(Similarity.cosine(col("embedding"), col("query_vec")), 6))
      .select(col("query_id"), col("vec_id").as("doc_id"), col("cos")),
      "cos", "sem_rank", poolK)
    rrfFuse(lexicalPool(spark, dir, queries, k1, b, poolK), sem, rrfK, topK)
  }

  /** B53d — hybrid retrieval with the IVF semantic pool: the 100 TB shape
    * [[hybridSearch]]'s scaladoc promises — the semantic side rides B5's
    * IVF probe (nearest-centroid bucketing + nprobe-cell candidate join,
    * the SAME machinery the oracled `ann_ivf_topk` runs) instead of scoring
    * every corpus vector, so the semantic cost scales with the probed
    * nprobe/cells fraction, not the corpus. The lexical pool and the RRF
    * fusion are shared code with the exact sibling — same rank contract,
    * same audit columns. Registered rows-only (the IVF pool's recall-vs-
    * brute gap makes a brute-force oracle wrong BY DESIGN; the IVF pool
    * itself is hash-verified through `ann_ivf_topk`'s replayed-pipeline
    * oracle) with a RelevanceSpec replay: plain-Scala RRF over the
    * spec-replayed lexical ranks and the independently-verified IVF ranks.
    */
  def hybridSearchIvf(spark: SparkSession, dir: String,
                      queries: Seq[(Long, Seq[String])] =
                        Seq(0L -> Seq("spark", "window", "merge"),
                            1L -> Seq("customer", "join", "stream")),
                      k1: Double = 1.2, b: Double = 0.75,
                      poolK: Int = 50, rrfK: Int = 60, topK: Int = 10,
                      cells: Int = 16, nprobe: Int = 4, dim: Int = 64): DataFrame = {
    require(queries.nonEmpty, "hybridSearchIvf: queries must be non-empty")
    val nQueries = queries.map(_._1).max.toInt + 1
    require(queries.map(_._1).toSet == (0L until nQueries).toSet,
      "IVF pool reuses ivfTopKOf's contiguous query-id contract (0..n-1)")
    val sem = Similarity.ivfTopKOf(Tables.embeddings(spark, dir),
      nQueries, poolK, cells, nprobe, dim)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("sem_rank"))
    rrfFuse(lexicalPool(spark, dir, queries, k1, b, poolK), sem, rrfK, topK)
  }

  /** The BM25 lexical pool shared by both hybrid variants: per-query
    * (query_id, doc_id, lex_rank ≤ poolK) over the [[termCounts]] scan
    * kernel — one corpus pass feeds tf rows, df, and corpus stats; the
    * per-query fan-out is a broadcast join on the |queries|·|terms| term
    * table.
    */
  private def lexicalPool(spark: SparkSession, dir: String,
                          queries: Seq[(Long, Seq[String])],
                          k1: Double, b: Double, poolK: Int): DataFrame = {
    import spark.implicits._
    val qTerms = queries.flatMap { case (q, ts) => ts.map(w => (q, w)) }
      .toDF("query_id", "w")
    val allTerms = queries.flatMap(q => q._2).distinct
    val tc = termCounts(Tables.documents(spark, dir), allTerms).persist()
    val tf = termFrequencyRows(tc, allTerms)
    val stats = tc.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val dfTab = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val contrib = idf * (col("tf") * (lit(k1) + lit(1.0))) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl))
    poolCut(tf
      .join(broadcast(qTerms), Seq("w"))
      .where(col("doc_id") =!= col("query_id"))
      .join(broadcast(dfTab), Seq("w"))
      .crossJoin(broadcast(stats))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(contrib), 6).as("score")), "score", "lex_rank", poolK)
  }

  /** Two-level top-k pool cut (B32's hot-key scaffold): shard-local rank
    * fans the corpus-sized sort out across 32·|queries| tasks; the
    * per-query rank then orders only the ≤ 32·poolK shard survivors.
    * Identical result to a single per-query window (every global top-poolK
    * row is top-poolK in its shard), without the |queries|-task sort
    * serialization (measured here: 11.8 s → ~2 s at 50× docs).
    */
  private def poolCut(scored: DataFrame, scoreCol: String, rankName: String,
                      poolK: Int): DataFrame = {
    val shard = pmod(hash(col("doc_id")), lit(32))
    val w1 = Window.partitionBy(col("query_id"), shard)
      .orderBy(col(scoreCol).desc, col("doc_id"))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col(scoreCol).desc, col("doc_id"))
    scored.withColumn("_shard_rank", row_number().over(w1))
      .where(col("_shard_rank") <= poolK)
      .withColumn(rankName, row_number().over(w2).cast("long"))
      .where(col(rankName) <= poolK)
      .select(col("query_id"), col("doc_id"), col(rankName))
  }

  /** RRF fusion over two bounded (query_id, doc_id, rank) pools — shared by
    * both hybrid variants so the fusion rule cannot drift between them.
    * Fusion cost never scales with the corpus, only the pools do.
    */
  private def rrfFuse(lex: DataFrame, sem: DataFrame,
                      rrfK: Int, topK: Int): DataFrame = {
    val fused = round(
      coalesce(lit(1.0) / (lit(rrfK).cast("double") + col("lex_rank")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(rrfK).cast("double") + col("sem_rank")), lit(0.0)), 6)
    val byQFused = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", fused)
      .withColumn("rank", row_number().over(byQFused).cast("long"))
      .where(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf"),
        col("lex_rank"), col("sem_rank"))
      // ≤ |queries|·topK rows: one-partition in-place sort, no range exchange
      .repartition(1).sortWithinPartitions("query_id", "rank")
  }

  /** B35c — interpolated TRIGRAM LM perplexity: the n-gram upgrade of
    * [[lmPerplexity]] (real curation stacks score with 5-gram KenLM;
    * trigrams are where context starts separating fluent text from bag-of-
    * words junk that fools a bigram model). Per trigram position,
    *
    *   p(w3|w1w2) = λ3·c3/cx3 + λ2·cb/cx2 + λ1·(c1+k)/(N+kV)
    *
    * — MLE trigram and bigram conditionals interpolated with an add-k
    * unigram floor (Jelinek-Mercer with fixed weights λ = 0.6/0.3/0.1,
    * k = 0.5). Contexts count n-gram STARTS (cx3 = trigrams starting
    * (w1,w2), cx2 = bigrams starting w2), so each conditional sums to 1
    * exactly; the corpus is its own model (self-referential outlier
    * scoring, B35's contract), so c3 ≥ 1 for every scored position. Per
    * doc: cross_entropy = −(1/n) Σ ln p over its n trigram positions,
    * perplexity = exp(·); docs under 3 tokens keep a row with
    * n_trigrams = 0 and null scores.
    *
    * Scale shape (B35's, one order higher): positional trigrams explode
    * with zero shuffle and per-(doc, trigram) counts partial-aggregate
    * map-side; the persisted result feeds the trigram model AND the
    * scoring join; bigram/unigram model tables aggregate map-side
    * combined; N/V broadcast as one row; every model attach is a keyed
    * equi-join bounded by n-gram vocabulary, never the corpus.
    *
    * Float parity: every model count is an exact integer on both engines;
    * p assembles as three (divide, multiply) pairs and two adds written in
    * the same order in the oracle SQL; ln/exp ulp noise and per-doc
    * summation order sit ~7 orders below the 6-dp rounding step (B35's
    * argument, one term wider).
    */
  /** B35d — per-source LM divergence: for each source, the mean per-doc
    * cross-entropy GAP between the global corpus bigram model and the
    * source's OWN bigram model — an empirical KL(source ‖ corpus) estimate
    * over bigram transitions. The mixture-drift diagnostic B60's unigram χ²
    * and B39's split-KL miss: a source can match the corpus vocabulary
    * exactly and still diverge in TRANSITIONS (templated word salad,
    * machine-generated text), and the source with the largest gap is the
    * one pulling a trained model away from the mixture. gap ≈ 0 = the
    * source speaks the corpus's language; large positive = its own model
    * fits it far better — distributionally alien content.
    *
    * Both models share B35's add-k estimator (k/V global, k/V_s local —
    * each conditional sums to 1 exactly); both score the SAME persisted
    * per-(doc, bigram) counts, so the comparison is paired, never sampled.
    * Per-doc cross-entropies round to 6 dp BEFORE averaging (the
    * source_quality precedent: identical round-6 inputs make the avg's
    * summation-order noise invisible at the round-6 output). Scale shape =
    * B35 twice over the one persisted explode: model tables are
    * (source ×) bigram-vocab-bounded keyed joins with map-side partials;
    * the final aggregate collapses to source cardinality.
    */
  def sourceLmDivergence(spark: SparkSession, dir: String,
                         addK: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // persisted: feeds BOTH model aggregations, BOTH vocab aggregates, and
    // the paired scoring join.
    // r17 kernel reshape (lmPerplexity's surgery): per-(doc, bigram) counts
    // derive MAP-SIDE via NgramCounts — the groupBy(doc, source, w1, w2)
    // exchange (this query's widest; 4.12 s at sf0.1, top-5 cost) is gone.
    // The bigram travels as one space-joined string; its start token splits
    // off only on the (source ×) bigram-vocab-bounded model tables.
    // r19 (guide §2.4): the unigram vocab pass was a SECOND full tokenize
    // scan; the multi-order kernel emits n=1 and n=2 in ONE pass (per-order
    // counts bit-identical — FunctionsSpec pins the kernel). The cache
    // holds the UNEXPLODED per-doc arrays, LAZILY filled — see
    // lmPerplexity's measured argument (an eager blocking fill lost at
    // both sf0.1 and 50×).
    val gramArrs = docs.select(col("doc_id"), col("source"),
        graft.functions.VectorExpressions.ngramMultiCounts(col("text"), 2).as("garr"))
      .persist()
    def ordRows(n: Int): DataFrame = gramArrs
      .select(col("doc_id"), col("source"), explode(col("garr")).as("g"))
      .where(col("g.n") === n)
      .select(col("doc_id"), col("source"), col("g.g").as("gram"), col("g.c").as("cnt"))
    val perDoc = ordRows(2)
      .select(col("doc_id"), col("source"), col("gram").as("bigram"), col("cnt"))
    // vocab sizes need only DISTINCT tokens — the kernel's n=1 rows are
    // per-doc-distinct already
    val uni = ordRows(1)
      .select(col("source"), col("gram").as("w"))
    // global model (B35's exactly)
    val bi = perDoc.groupBy("bigram").agg(sum(col("cnt")).as("cbi"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val starts = bi.groupBy("w1").agg(sum(col("cbi")).as("cw"))
    val vocab = uni.agg(count_distinct(col("w")).as("vocab"))
    val lpG = bi.join(starts, Seq("w1")).crossJoin(broadcast(vocab))
      .select(col("bigram"),
        log((col("cbi") + lit(addK)) / (col("cw") + lit(addK) * col("vocab"))).as("lp_g"))
    // source-local model (same estimator, source-keyed)
    val biS = perDoc.groupBy("source", "bigram").agg(sum(col("cnt")).as("cbs"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val startsS = biS.groupBy("source", "w1").agg(sum(col("cbs")).as("cws"))
    val vocabS = uni.groupBy("source").agg(count_distinct(col("w")).as("vs"))
    val lpL = biS.join(startsS, Seq("source", "w1")).join(vocabS, Seq("source"))
      .select(col("source"), col("bigram"),
        log((col("cbs") + lit(addK)) / (col("cws") + lit(addK) * col("vs"))).as("lp_l"))
    val scored = perDoc
      .join(lpG, Seq("bigram"))
      .join(lpL, Seq("source", "bigram"))
      .groupBy("doc_id", "source")
      .agg(sum(col("cnt")).as("nb"),
        round(-sum(col("cnt") * col("lp_g")) / sum(col("cnt")), 6).as("ce_g"),
        round(-sum(col("cnt") * col("lp_l")) / sum(col("cnt")), 6).as("ce_l"))
    scored.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("ce_g")), 6).as("mean_ce_global"),
        round(avg(col("ce_l")), 6).as("mean_ce_local"),
        round(avg(col("ce_g") - col("ce_l")), 6).as("divergence"))
      .orderBy("source")
  }

  def lmTrigramPerplexity(spark: SparkSession, dir: String,
                          l3: Double = 0.6, l2: Double = 0.3, l1: Double = 0.1,
                          addK: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // persisted: feeds the trigram/bigram/unigram model counts AND the
    // scoring join (lazily persisted — released by graft.Caches.clear).
    // r17 kernel reshape (lmPerplexity's surgery, one order up): per-doc
    // n-gram counts derive MAP-SIDE via NgramCounts for all three orders —
    // the groupBy(doc, w1, w2, w3) exchange is gone, the bigram/unigram
    // passes explode per-doc-distinct (gram, count) rows instead of every
    // occurrence, and grams travel as single space-joined strings that
    // split into components only on the vocabulary-bounded model tables
    // (tokens are space-free; split(' ') recovers exactly n parts).
    // r19 (guide §2.4): the three orders previously ran three SEPARATE
    // tokenize scans of the corpus (tri, bi, uni — this query's dominant
    // cost after the r17 reshape); the multi-order kernel emits all three
    // in ONE pass. Per-order counts are bit-identical (FunctionsSpec pins
    // the kernel). The cache holds the UNEXPLODED per-doc arrays, LAZILY
    // filled — see lmPerplexity's measured argument (an eager blocking
    // fill lost at both sf0.1 and 50×).
    val gramArrs = docs.select(col("doc_id"),
        graft.functions.VectorExpressions.ngramMultiCounts(col("text"), 3).as("garr"))
      .persist()
    def ordRows(n: Int): DataFrame = gramArrs
      .select(col("doc_id"), explode(col("garr")).as("g"))
      .where(col("g.n") === n)
      .select(col("doc_id"), col("g.g").as("gram"), col("g.c").as("cnt"))
    val perDoc = ordRows(3)
      .select(col("doc_id"), col("gram").as("tri"), col("cnt"))
    val triWs = split(col("tri"), " ")
    val tri = perDoc.groupBy("tri").agg(sum(col("cnt")).as("c3"))
      .select(col("tri"), col("c3"), triWs.getItem(0).as("w1"),
        triWs.getItem(1).as("w2"), triWs.getItem(2).as("w3"))
    val ctx3 = tri.groupBy("w1", "w2").agg(sum(col("c3")).as("cx3"))
    val biWs = split(col("bigram"), " ")
    // model tables are vocab-bounded; persisted so their two consumers each
    // (join + context rollup) re-read KB tables, not the big grams frame
    val bi = ordRows(2)
      .select(col("gram").as("bigram"), col("cnt"))
      .groupBy(col("bigram")).agg(sum(col("cnt")).as("cb"))
      .select(biWs.getItem(0).as("w2"), biWs.getItem(1).as("w3"), col("cb"))
      .persist()
    val ctx2 = bi.groupBy("w2").agg(sum(col("cb")).as("cx2"))
    val uni = ordRows(1)
      .groupBy(col("gram").as("w3")).agg(sum(col("cnt")).as("c1"))
      .persist()
    val scalars = uni.agg(sum(col("c1")).as("n_total"),
      count(lit(1)).as("vocab"))
    val p =
      lit(l3) * (col("c3").cast("double") / col("cx3")) +
      lit(l2) * (col("cb").cast("double") / col("cx2")) +
      lit(l1) * ((col("c1") + lit(addK)) / (col("n_total") + lit(addK) * col("vocab")))
    val logProb = tri
      .join(ctx3, Seq("w1", "w2"))
      .join(bi, Seq("w2", "w3"))
      .join(ctx2, Seq("w2"))
      .join(uni, Seq("w3"))
      .crossJoin(broadcast(scalars))
      .select(col("tri"), log(p).as("lp"))
    val scored = perDoc.join(logProb, Seq("tri"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_trigrams"), sum(col("cnt") * col("lp")).as("s"))
    docs.select(col("doc_id"), col("lang"))
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        round(-col("s") / col("n_trigrams"), 6).as("cross_entropy"),
        round(exp(-col("s") / col("n_trigrams")), 4).as("perplexity"))
      .orderBy("doc_id")
  }
}
