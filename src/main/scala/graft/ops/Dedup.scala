package graft.ops

import graft.{Caches, Tables}
import graft.functions.VectorExpressions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over the documents table (SURVEY.md §2 B1-B4).
  *
  * Scale discipline: nothing here ever compares all pairs. Exact dedup
  * groups on a content hash; near-dup generates candidates only inside LSH
  * buckets (MinHash bands / SimHash chunks) and verifies only those
  * candidates. At 100 TB the only shuffles are hash-partition-by-band-key
  * and the final candidate join — both linear in data size because bucket
  * width is bounded: buckets wider than `maxBucket` degrade from all-pairs
  * to a linear star around the bucket's representative (see guardedPairs),
  * so one degenerate key (empty docs, boilerplate text) can never go
  * quadratic.
  *
  * One hash family runs throughout: a 24/60-bit md5-prefix base hash,
  * parseable identically by Spark's `conv` and DuckDB's '0x' cast, so the
  * DuckDB oracle replays every near-dup pipeline bit-for-bit, and band
  * keys are the md5 hex string of a signature slice. The one exception is
  * the Bloom probe in [[bloomNovelty]], which is exact dedup, not LSH.
  * Signature/fingerprint math on top of the base hash runs in the codegen'd
  * MinHashFamily / BitVoteFingerprint expressions (one pass over elements,
  * no interpreted lambda per element per hash).
  */
object Dedup {

  /** The engine-wide default shingle width. [[dupPairSpans]]' oracle SQL
    * derives its gap/extent/slice constants from THIS value (SparkEntry
    * interpolates it), so changing the default cannot silently desync the
    * operator from its oracle.
    */
  val DefaultShingleK: Int = 3

  // ---------------------------------------------------------------- exact

  /** B1 — exact dedup: keep the first doc_id per identical text. Grouping on
    * md5(text) (not the raw text) keeps shuffle rows narrow; the survivor is
    * min(struct(doc_id, payload)) per hash — an aggregate that PARTIAL-
    * combines map-side, so a viral duplicate repeated across millions of
    * docs arrives at its reducer pre-collapsed to one row per mapper, where
    * a ranked window over the hash would sort the whole hot key in one
    * partition (same hot-key reasoning as [[passageDedup]]). min over the
    * struct compares doc_id first (unique → deterministic, payload never
    * compared).
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(md5(col("text")).as("text_hash"),
        struct(col("doc_id"), col("lang"), col("source"), col("n_chars")).as("s"))
      .groupBy("text_hash").agg(min(col("s")).as("s"))
      .select(col("s.doc_id"), col("s.lang"), col("s.source"), col("s.n_chars"),
        col("text_hash"))
      .orderBy("doc_id")

  /** B1c — normalization-aware exact dedup: identical after lowercasing,
    * stripping non-alphanumerics, and collapsing whitespace — the standard
    * "exact" pass real pipelines run (C4, RefinedWeb), which catches
    * case/punctuation variants plain byte-equality misses. Same hot-key-
    * proof min-struct groupBy as [[exact]], grouped on md5(normalized),
    * plus `n_variants` = the number of DISTINCT byte-level texts in the
    * group (`n_variants > 1` rows are exactly the near-misses byte-exact
    * dedup would have kept twice — a group of byte-identical copies
    * reports 1, it held nothing exact dedup misses). The normalizer
    * maps every RUN of non-alphanumerics to one space (so newlines/tabs
    * and punctuation act as separators — deleting them instead would weld
    * "hello\nworld" into "helloworld" and MISS the whitespace variants
    * this pass exists to catch), then trims; two codegen'd string ops
    * whose regex class (`[^a-z0-9]+`) behaves identically under Java
    * regex and RE2, so the DuckDB oracle replays it verbatim.
    */
  def dedupNormalized(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    Tables.documents(spark, dir)
      .select(md5(norm).as("norm_hash"), md5(col("text")).as("text_hash"),
        struct(col("doc_id"), col("lang"), col("source")).as("s"))
      .groupBy("norm_hash")
      .agg(min(col("s")).as("s"), countDistinct(col("text_hash")).as("n_variants"))
      .select(col("s.doc_id"), col("s.lang"), col("s.source"),
        col("norm_hash"), col("n_variants"))
      .orderBy("doc_id")
  }

  /** B26 — passage-level dedup (the C4/RefinedWeb line-dedup analog for a
    * corpus without line structure): split every document into
    * non-overlapping `window`-token passages, keep each distinct passage's
    * FIRST occurrence corpus-wide (ordered by doc_id, then position), and
    * reassemble what survives of each document in original order.
    *
    * Scale shape: passages group on md5(chunk_text) — the min-(doc_id,
    * chunk_id) aggregate partial-combines map-side, so a boilerplate
    * passage repeated across millions of docs arrives at the reducer
    * pre-collapsed to one row per mapper (no hot-key sort, unlike a ranked
    * window over the passage hash); the keep-decision joins back on the
    * same hash, AQE-skew-splittable. Reassembly is one groupBy(doc_id)
    * whose collect_list is bounded by the document's own passage count.
    */
  def passageDedup(spark: SparkSession, dir: String, window: Int = 32): DataFrame =
    keepFirstChunks(Corpus.chunksOf(Tables.documents(spark, dir), window, overlap = 0))

  /** Keep each distinct chunk's first occurrence (by doc_id, then chunk_id)
    * and reassemble each document's survivors in chunk order: the body of
    * [[passageDedup]] and [[cdcPassageDedup]] after chunking.
    */
  private def keepFirstChunks(chunks: DataFrame): DataFrame = {
    val ch = chunks
      .select(col("doc_id"), col("chunk_id"), col("chunk_text"),
        md5(col("chunk_text")).as("h"))
    val firsts = ch.groupBy("h")
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("m"))
    ch.join(firsts, Seq("h"))
      .withColumn("is_first",
        col("m.doc_id") === col("doc_id") && col("m.chunk_id") === col("chunk_id"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("is_first"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("is_first"),
              struct(col("chunk_id"), col("chunk_text"))))),
            x => x.getField("chunk_text")),
          " ").as("kept_text"))
      .orderBy("doc_id")
  }

  /** B68b — passage dedup over CONTENT-DEFINED chunks: [[passageDedup]]'s
    * keep-first-occurrence semantics on [[graft.ops.Corpus.cdcChunksOf]]
    * boundaries instead of fixed 32-token windows. The reason this exists:
    * fixed windows dedup shared passages only when they stay ALIGNED — one
    * token inserted near the front of a near-duplicate shifts every
    * following window and the shared tail stops matching; CDC boundaries
    * re-synchronize at the next content cut, so the tail's chunks remain
    * byte-identical and dedup (DedupSpec pins exactly this fixture: the
    * fixed-window pass finds zero duplicate chunks on the shifted pair,
    * this finds the shared tail). Same scale shape as B26: chunking is a
    * narrow per-row pass, firsts are a map-side-combined min-struct
    * groupBy on the chunk hash, reassembly is per-doc bounded.
    */
  def cdcPassageDedup(spark: SparkSession, dir: String,
                      k: Int = 3, divisor: Int = 16): DataFrame =
    keepFirstChunks(Corpus.cdcChunksOf(Tables.documents(spark, dir), k, divisor))

  /** B49 — cross-snapshot corpus diff: classify every document of a NEW
    * crawl against the PREVIOUS snapshot — `exact_dup` (byte-identical text
    * to some previous doc), `near_dup` (MinHash-estimated Jaccard ≥
    * `threshold` against some previous doc — the re-crawled page whose
    * timestamp/ad block changed), or `new`. This is the incremental-ingest
    * triage step a recurring crawl runs before paying full curation for
    * content it already has; [[incremental]] is the streaming keep/drop
    * decision, this is the batch WHAT-CHANGED report across snapshots.
    * Snapshots are deterministic doc_id-parity stand-ins (even = previous,
    * odd = new crawl), the same convention as the %-50 eval slice.
    *
    * Scale shape: the exact check joins on distinct md5 hashes
    * (partial-agg'd, AQE-broadcast when the previous snapshot's hash set is
    * small); the near check reuses the ENTIRE guarded-LSH pairs machinery
    * ([[pairsFrom]] — banded buckets, width guard, keyed meets only) and
    * then keeps only cross-parity pairs — bare-id rows. Nothing all-pairs;
    * the new crawl streams at scan speed past two hash joins.
    */
  def corpusDiff(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val near = minhashPairs(docs, threshold = threshold)
      .where((col("id_a") % 2 === 1) =!= (col("id_b") % 2 === 1))
      .select(when(col("id_a") % 2 === 1, col("id_a")).otherwise(col("id_b")).as("doc_id"))
      .distinct()
      .withColumn("is_near", lit(1L))
    val prevHashes = docs.where(col("doc_id") % 2 === 0)
      .select(md5(col("text")).as("th")).distinct()
      .withColumn("is_exact", lit(1L))
    docs.where(col("doc_id") % 2 === 1)
      .withColumn("th", md5(col("text")))
      .join(prevHashes, Seq("th"), "left_outer")
      .join(near, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("lang"), col("source"),
        when(col("is_exact").isNotNull, "exact_dup")
          .when(col("is_near").isNotNull, "near_dup")
          .otherwise("new").as("status"))
      .orderBy("doc_id")
  }

  /** B1b — per-SOURCE exact-duplication rate: for each source, how many of
    * its docs exact-dedup would DROP (non-survivors under [[exact]]'s
    * min-doc_id-per-hash rule) and the resulting rate — the "which mirror
    * is a copy farm" attribution that turns B1's corpus-wide answer into
    * the per-acquisition decision (a source that is 90% drops is not worth
    * re-crawling; B50 judges quality, this judges REDUNDANCY). Same
    * survivor rule as the registered dedup, so the rates reconcile exactly
    * with `dedup_exact`'s kept set. Shapes: hash groupBy (map-side
    * combined) for survivors, hash-keyed re-join, per-source aggregate —
    * narrow rows end to end, text never shuffles.
    */
  def sourceDedupRate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("th"))
    val firsts = docs.groupBy("th").agg(min(col("doc_id")).as("keep_id"))
    docs.join(firsts, Seq("th"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("doc_id") =!= col("keep_id")).cast("long")).as("n_dropped"))
      .withColumn("dup_rate",
        round(col("n_dropped").cast("double") / col("n_docs"), 6))
      .orderBy("source")
  }

  /** B49b — Bloom-SCREENED snapshot novelty: the exact `new` vs `dup_prev`
    * classification of a new crawl against the previous snapshot, but with
    * the previous snapshot's hash set compressed into a Bloom filter so the
    * overwhelmingly-common case (a genuinely new document) is decided
    * MAP-SIDE with no join at all. This is the plan shape [[corpusDiff]]'s
    * exact arm cannot have: its hash join shuffles (or at best broadcasts)
    * the previous snapshot's full distinct-hash set, which at 100 TB is
    * billions of rows — while a Bloom sized for it is `n·ln(1/fpp)/ln²2`
    * BITS (~1.2 GB per 10⁹ hashes at 1% fpp), build it in one
    * tree-aggregated pass, and every new-crawl row probes it at scan speed.
    * Only the bloom HITS — true duplicates plus an fpp-bounded sliver of
    * false positives — pay the exact semi-join that makes the final answer
    * EXACT (a Bloom has no false negatives, so `might_contain = false` ⇒
    * provably absent from the previous snapshot). The machinery is Spark's
    * own runtime-filter pair (`BloomFilterAggregate` build over
    * `xxhash64(md5(text))`, `BloomFilterMightContain` probe — the identical
    * expressions `InjectRuntimeFilter` plants under AQE), used explicitly
    * because the screened side must SKIP the join, not merely pre-filter
    * its input. Snapshots are the [[corpusDiff]] doc_id-parity stand-ins
    * (even = previous, odd = new). Size the filter from the previous
    * snapshot's manifest row count (D12 records it); `fpp` only moves the
    * exact-join sliver, never correctness. The driver-held state is the
    * serialized filter itself (`numBits/8` bytes — the documented,
    * operator-chosen bound), not data rows.
    *
    * Output: one row per new-crawl doc — (doc_id, source, status) with
    * status ∈ {new, dup_prev}. The DuckDB oracle is the SEMANTIC spec (a
    * plain hash anti/semi classification), not a construction replay, so
    * parity proves the screen changes the plan and nothing else.
    */
  def bloomNovelty(spark: SparkSession, dir: String,
                   expectedItems: Long = -1L, fpp: Double = 0.01): DataFrame =
    bloomNoveltyOf(Tables.documents(spark, dir), expectedItems, fpp)

  /** [[bloomNovelty]] over an explicit documents frame (doc_id, text,
    * source) — the seam the planted-fixture specs use.
    *
    * `expectedItems <= 0` derives the size from a count of the previous
    * snapshot (one narrow scan; in production the D12/D22 manifest row
    * count replaces it for free). Sizing MATTERS at both ends: numBits
    * scales the per-partition aggregation partial, so a filter sized for
    * 2²² items against a 25k-row snapshot ships a 5 MB partial from every
    * partition into the merge — measured 6.4 s of pure overhead at sf0.1 —
    * while an undersized filter degrades fpp and sends everything through
    * the exact join (correct, just slower).
    */
  def bloomNoveltyOf(docs: DataFrame,
                     expectedItems: Long = -1L, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.{shim => sqlshim}
    import org.apache.spark.sql.types.BinaryType

    val prev = docs.where(col("doc_id") % 2 === 0)
      .select(md5(col("text")).as("th"))
    val items =
      if (expectedItems > 0) expectedItems
      else math.max(prev.count(), 1024L)
    val numBits = math.min(
      math.ceil(items * math.log(1.0 / fpp) / (math.log(2) * math.log(2))).toLong,
      1L << 30)
    val bloomAgg = sqlshim.column(new BloomFilterAggregate(
      sqlshim.expression(xxhash64(col("th"))),
      sqlshim.expression(lit(items)),
      sqlshim.expression(lit(numBits))).toAggregateExpression())
    val bloomBytes = prev.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)

    val fresh = docs.where(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("source"), md5(col("text")).as("th"))
    // Empty previous snapshot → null filter → everything is new.
    val classified = if (bloomBytes == null) {
      fresh.withColumn("status", lit("new"))
    } else {
      val mightContain = sqlshim.column(BloomFilterMightContain(
        Literal.create(bloomBytes, BinaryType),
        sqlshim.expression(xxhash64(col("th")))))
      val probed = fresh.withColumn("maybe", mightContain)
      // Definitely-new rows never reach a join; bloom hits resolve exactly.
      // The PREV side never shuffles whole either: it is semi-joined
      // against the fpp-bounded hit-key sliver FIRST (AQE broadcasts the
      // sliver, so the snapshot streams past it map-side), and only the
      // surviving dup keys — at most |hits| rows — meet the hits in the
      // outer join. Size fpp so the sliver stays broadcastable (1e-4 on
      // 10^9 new docs is ~10^5 hashes ≈ 3 MB); the bloom itself grows with
      // the PREVIOUS snapshot, the sliver with fpp·|new| + |dups|.
      val definiteNew = probed.where(!col("maybe"))
        .select(col("doc_id"), col("source"), lit("new").as("status"))
      val hits = probed.where(col("maybe"))
      val dupKeys = prev.join(hits.select("th").distinct(), Seq("th"), "left_semi")
        .distinct().withColumn("hit", lit(1L))
      val resolved = hits
        .join(dupKeys, Seq("th"), "left_outer")
        .select(col("doc_id"), col("source"),
          when(col("hit").isNotNull, "dup_prev").otherwise("new").as("status"))
      definiteNew.unionByName(resolved)
    }
    classified.select("doc_id", "source", "status").orderBy("doc_id")
  }

  /** B34 — duplicate-SPAN trimming (the Lee et al. "Deduplicating Training
    * Data" granularity, between B26's passage keep-one and B1's doc drop):
    * remove every token covered by a k-gram whose occurrence count reaches
    * `minDup` corpus-wide — the boilerplate/repeated-span filter that
    * catches templated fragments embedded mid-document, which passage
    * boundaries straddle and doc-level dedup never sees. All occurrences
    * go (the curation-filter semantics: a span the corpus repeats is noise
    * wherever it appears); keep-one-occurrence at span granularity has no
    * deterministic cross-engine order and is B26's job at passage
    * granularity.
    *
    * Shapes: positional (non-deduped) shingle hashes come from one
    * codegen'd pass per row ([[graft.functions.VectorExpressions
    * .positionalShingleHashes]] — position-aligned, unlike the deduping
    * ShingleHashes); the duplicated-gram set is a map-side-combined
    * groupBy (a boilerplate gram repeated across millions of docs arrives
    * pre-collapsed); coverage is one per-doc window over dense token
    * positions (`max(dup-start flag) over [pos-k+1, pos]` — bounded by
    * document length, never corpus-wide); reassembly is a per-doc
    * collect_list bounded by the doc's own token count. DuckDB replays
    * hash, coverage window, and ordered string_agg identically.
    */
  def dupSpanTrim(spark: SparkSession, dir: String,
                  k: Int = 5, minDup: Long = 2): DataFrame = {
    // Lazily persisted — feeds the dup count and the coverage pass, so the
    // shingling pass runs once; released by graft.Caches.clear (see Caches).
    val base = tokenGrams(Tables.documents(spark, dir), k).persist()
    val dup = base.select(explode(col("ph")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
      .where(col("c") >= minDup)
      .select(col("h"))
    coverageTrim(base, dup, k, "trimmed_text", shortGramCounts = true)
  }

  /** (doc_id, tok, ph): each doc's split(text, ' ') tokens beside its
    * positional k-gram hashes — the input of [[coverageTrim]].
    */
  private[ops] def tokenGrams(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("tok"),
      VectorExpressions.positionalShingleHashes(col("text"), k).as("ph"))

  /** The one coverage-window trim (B34 [[dupSpanTrim]], B13d
    * [[Corpus.decontaminatedSpans]]): token p of a [[tokenGrams]] doc is
    * removed iff a k-gram of `marked` (an `h` column) starts in
    * [p−k+1, p]; output (doc_id, n_tokens, n_removed, `textCol`).
    * `shortGramCounts` is the sub-k rule: a doc shorter than k carries one
    * clamped whole-text gram at pos 1, which either counts like any gram
    * (B34: a byte-identical short doc repeated corpus-wide is duplicate
    * material) or is nulled (B13d: it is not a full k-gram and must not
    * match).
    */
  private[ops] def coverageTrim(base: DataFrame, marked: DataFrame, k: Int,
                                textCol: String, shortGramCounts: Boolean): DataFrame = {
    // ONE explode carries both the token and the gram hash STARTING at its
    // position: arrays_zip pads the (shorter) hash array with nulls, so
    // tail positions — where no k-gram starts — surface with h = null and
    // still count as tokens. The r6 shape exploded tokens and hashes
    // SEPARATELY and re-joined them on (doc_id, pos): a second parquet
    // scan + text split AND a corpus-token-sized equi-join shuffle on both
    // sides, all replaced here by reading the zipped row.
    val gram = if (shortGramCounts) col("z.ph") else when(col("n") >= k, col("z.ph"))
    val tokens = base
      .select(col("doc_id"), size(col("tok")).as("n"),
        posexplode(arrays_zip(col("tok"), col("ph"))).as(Seq("p0", "z")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"),
        col("z.tok").as("token"), gram.as("h"))
    // null h joins nothing → d = 0, exactly the tail-position semantics
    val flagged = tokens.join(marked.withColumn("is_marked", lit(1)), Seq("h"), "left_outer")
      .select(col("doc_id"), col("pos"), col("token"),
        coalesce(col("is_marked"), lit(0)).as("d"))
    // token at pos is covered iff ANY marked gram starts in
    // [pos-k+1, pos]; positions are dense 1..n per doc, so a ROWS frame is
    // exact — and a doc shorter than k (single whole-text gram at pos 1)
    // falls out naturally: the frame from any pos ≤ n < k reaches back to 1
    val w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(k - 1), 0)
    // The per-doc totals and the reassembly ride the SAME (doc_id, pos)
    // sort as full-frame window functions, and the pos=1 row carries the
    // finished document — the former groupBy collected (pos, token)
    // structs into an aggregation hash map and array_sorted every doc a
    // SECOND time (VERDICT r7 #4); a window collect_list is already in
    // frame order, so both that sort and the hash build are gone. The
    // groupBy never shuffled (the window exchange satisfied it), so this
    // trades only CPU, not partitioning.
    val full = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    flagged
      .withColumn("covered", max(col("d")).over(w))
      .withColumn("n_tokens", count(lit(1)).over(full))
      .withColumn("n_removed", sum(col("covered")).over(full).cast("long"))
      .withColumn(textCol, concat_ws(" ",
        collect_list(when(col("covered") === 0, col("token"))).over(full)))
      .where(col("pos") === 1)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"), col(textCol))
      .orderBy("doc_id")
  }

  /** B67 — variable-length exact-substring spans (the Lee et al.
    * ExactSubstr granularity): every MAXIMAL corpus-repeated token
    * interval of ≥ `minLen` tokens — the templated span that straddles
    * fixed-k-gram bookkeeping ([[dupSpanTrim]] reports coverage, not the
    * repeat's extent). One row per maximal span: (doc_id, span_start,
    * span_end, span_len, n_runs), 1-based inclusive token positions.
    *
    * The reduction that makes one pass suffice: a substring of length
    * m ≥ L repeats corpus-wide ⟺ a duplicated L-gram STARTS at every one
    * of positions s..s+m−L — a maximal single repeat is a maximal
    * CONSECUTIVE RUN of duplicated-L-gram starts (run [s, e] ⇒ coverage
    * [s, e+L−1], length e−s+L: a planted 73-token repeat at L=20 surfaces
    * as one 54-long run ⇒ exactly 73, no rounding to k-multiples). The
    * published suffix-array pass is a single-machine construction; this
    * run-chaining is its shuffle-native equivalent.
    *
    * Span = COVERAGE ISLAND, not strict run: islands break only at a
    * start-position gap > L (B13c's rule), because two runs whose starts
    * sit ≤ L apart have overlapping-or-abutting L-token coverage — two
    * different templated fragments abutting (dup starts at p and p+g,
    * none between, 1 < g ≤ L) are ONE leaked interval, and reporting the
    * strict runs separately would emit OVERLAPPING spans whose lengths
    * double-count the shared tokens (the r14 `weak` mark). With the gap>L
    * break, spans are disjoint-by-construction (≥ 1 clean token between
    * consecutive spans) and Σ span_len per doc provably tiles
    * [[exactSubstrTrim]]'s removal set: token p is removed ⟺ a dup
    * L-gram starts in [p−L+1, p] ⟺ p lies in some island's coverage.
    * The strict-run view survives as `n_runs` — the count of maximal
    * consecutive-start runs chained into the island (1 = the span is one
    * literal repeat; >1 = a union of ≥L repeats, possibly with different
    * partners, welded by overlapping coverage).
    *
    * Why direct L-gram hashing and not iterated doubling (dup k-grams →
    * pair into 2k → re-group, log₂(L/k) rounds): doubling pays an EXTRA
    * corpus-position-sized shuffle per round; hashing L tokens per
    * position is an O(L)-bytes CPU constant inside the one expression
    * pass the fixed-k operator already pays. At fact scale, shuffle bytes
    * dominate codegen'd CPU — this plan keeps exactly one corpus-sized
    * shuffle (the dup-gram groupBy, map-side combined) plus the per-doc
    * window exchange, same as [[dupSpanTrim]].
    *
    * Docs shorter than `minLen` are excluded up front: a ≥L-token repeat
    * cannot exist in them (a fully-duplicated short doc is B1's job), and
    * their clamped whole-text gram would otherwise mint a phantom span.
    * The islands are [[islands]]' (the B13c/B4b grouping): the island id
    * rides the SAME doc_id exchange as the window (hash partitioning on
    * doc_id satisfies the (doc_id, grp) clustering), so spans add no
    * shuffle of their own.
    */
  def exactSubstrSpans(spark: SparkSession, dir: String,
                       minLen: Int = 20, minDup: Long = 2): DataFrame = {
    val st = dupGramStarts(spark, dir, minLen, minDup)
    // runs: strict-run breaks (any gap > 1, incl. the island boundary)
    islands(st, Seq("doc_id"), minLen,
      sum(when(col("gap").isNull || col("gap") > 1, 1).otherwise(0)).cast("long").as("n_runs"))
  }

  /** The duplicated-L-gram start positions feeding [[exactSubstrSpans]] and
    * [[exactSubstrTrim]]: (doc_id, pos) where a corpus-duplicated
    * `minLen`-gram begins, over docs of ≥ `minLen` tokens.
    */
  private def dupGramStarts(spark: SparkSession, dir: String,
                            minLen: Int, minDup: Long): DataFrame = {
    // persisted for the same reason as dupSpanTrim's frame: the
    // start positions feed BOTH the dup-set groupBy and the probe join,
    // and at L=20 the positional hashing is O(L) bytes of md5 per token —
    // the one pass worth sharing. Released by graft.Caches.clear.
    val st = positionalGrams(Tables.documents(spark, dir)
      .where(size(split(col("text"), " ")) >= minLen), minLen)
      .persist()
    val dup = st.groupBy("h").agg(count(lit(1)).as("c"))
      .where(col("c") >= minDup).select(col("h"))
    st.join(dup, Seq("h")).select(col("doc_id"), col("pos"))
  }

  /** (doc_id, `carry`…, pos, h): one row per position-aligned k-gram hash,
    * pos 1-based — the positional frame every span operator reads. A doc
    * shorter than k yields its one clamped whole-text gram at pos 1;
    * callers that need full k-grams filter such docs out first.
    */
  private[ops] def positionalGrams(docs: DataFrame, k: Int, carry: String*): DataFrame = {
    val kept = col("doc_id") +: carry.map(col)
    docs.select(kept :+ posexplode(VectorExpressions.positionalShingleHashes(col("text"), k))
        .as(Seq("p0", "h")): _*)
      .select(kept ++ Seq((col("p0") + 1).as("pos"), col("h")): _*)
  }

  /** The one span-island grouping (B13c, B4b, B67): within each `keys`
    * group, gram starts (`pos`) merge into one island while their k-token
    * coverage overlaps or abuts — a break needs a start gap > k, so islands
    * are disjoint with ≥ 1 clean token between. One row per island:
    * keys, span_start, span_end = last start + k − 1, span_len and
    * `measure`, an aliased aggregate that may read `gap` (the distance to
    * the previous start, null at the first). The gap lag and the island
    * id ride ONE (keys, pos) window sort, and the groupBy rides the same
    * exchange (no shuffle of its own).
    */
  private[ops] def islands(starts: DataFrame, keys: Seq[String], k: Int,
                           measure: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy("pos")
    starts.withColumn("gap", col("pos") - lag(col("pos"), 1).over(w))
      .withColumn("grp", sum(when(col("gap") > k, 1).otherwise(0)).over(w))
      .groupBy((keys :+ "grp").map(col): _*)
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + k - 1).cast("long").as("span_end"),
        (max(col("pos")) - min(col("pos")) + k).cast("long").as("span_len"),
        measure)
      .drop("grp")
      .orderBy((keys :+ "span_start").map(col): _*)
  }

  /** B67b — trim every maximal ≥`minLen`-token corpus-repeated substring
    * from every document (all occurrences — the same curation-filter
    * semantics as [[dupSpanTrim]]). Output shape matches B34: (doc_id,
    * n_tokens, n_removed, trimmed_text) over the full corpus — short docs
    * participate through their clamped whole-text gram (B34's existing
    * semantics: a byte-identical short doc repeated corpus-wide is still
    * duplicate material), which is also why this and the spans report
    * differ on sub-L docs by design.
    *
    * For docs of ≥ minLen tokens this IS [[dupSpanTrim]] at k = minLen —
    * provably: token p is inside some maximal ≥L repeat ⟺ a duplicated
    * L-gram starts in [p−L+1, p] ⟺ B34's coverage window flags p. The
    * delegation is the point, not a shortcut: the spans report
    * ([[exactSubstrSpans]]) is what fixed-k machinery cannot express; the
    * removal SET at k = L is identical, so re-deriving it would be a
    * second code path to drift.
    */
  def exactSubstrTrim(spark: SparkSession, dir: String,
                      minLen: Int = 20, minDup: Long = 2): DataFrame =
    dupSpanTrim(spark, dir, k = minLen, minDup = minDup)

  /** B1b — dedup group stats: copies per distinct content. */
  def exactStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(
        min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"),
        sum(col("n_chars")).as("total_chars")
      )
      .orderBy("keep_id")

  // ------------------------------------------------------- shared LSH core

  /** Engine-portable universal hash family: each shingle is hashed ONCE to a
    * 24-bit base value, then the i-th hash is the linear congruence
    * (a_i * base + b_i) mod P — classic universal hashing, so the MinHash
    * bound holds, and only |shingles| base-hash calls happen per row instead
    * of k*|shingles|. The coefficients are deterministic (fixed LCG) and
    * shared verbatim with the generated oracle SQL.
    */
  val MinhashP = 16777213L // prime < 2^24; products stay < 2^48 (no overflow in any engine)
  def minhashCoefs(k: Int): Seq[(Long, Long)] = {
    var x = 42L
    def next(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L); (x >>> 40) % (MinhashP - 1) + 1 }
    Seq.fill(k)((next(), next()))
  }

  /** (doc_id, sig): MinHash signature per doc — shingling, base-hashing and
    * the k-min family each run once per row (ShingleHashes + MinHashFamily).
    */
  private[graft] def signatures(docs: DataFrame, numHashes: Int, shingleK: Int): DataFrame =
    docs.select(col("doc_id"),
      VectorExpressions.minhashFamily(
        VectorExpressions.shingleHashes(col("text"), shingleK).getField("h24"),
        minhashCoefs(numHashes), MinhashP).as("sig"))

  /** The LSH key of 0-based band `band` over a `sig` column in r-component
    * bands: the md5 hex string of the band's signature slice (DuckDB:
    * md5(array_to_string(sig[i:j],'|'))).
    */
  private def bandKey(band: Column, r: Int): Column =
    md5(concat_ws("|", slice(col("sig"), band * r + 1, lit(r))))

  /** Explode a signature into (id, band, band_key) LSH bucket rows. */
  private[graft] def explodedBands(signed: DataFrame, bands: Int, r: Int): DataFrame =
    signed.withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .select(col("doc_id").as("id"), col("band"), bandKey(col("band"), r).as("band_key"))

  /** Candidate (id_a, id_b) pairs within buckets, with an explosion guard:
    * buckets up to `cap` wide produce all within-bucket pairs (the normal
    * LSH regime); wider buckets — degenerate keys: empty docs, boilerplate,
    * zero vectors — would go quadratic, so they degrade to a linear star,
    * pairing every member with the bucket's smallest id. Dedup semantics
    * survive (every member still meets a representative) at O(bucket) cost.
    * Bucket stats come from a window over the bucket key — ONE shuffle of
    * the bare (key, id) rows that the self-join's two sides then REUSE
    * (identical Exchange subtrees → ReusedExchange, and the window preserves
    * the join's required partitioning), where the earlier census-groupBy +
    * broadcast-join formulation shuffled the keyed rows three times.
    */
  private[ops] def guardedPairs(keyed: DataFrame, keyCols: Seq[String], cap: Int): DataFrame = {
    val kc = keyCols.map(col)
    val w = Window.partitionBy(kc: _*)
    val stats = keyed
      .withColumn("bucket_n", count(lit(1)).over(w))
      .withColumn("bucket_rep", min(col("id")).over(w))
    val small = stats.where(col("bucket_n") <= cap)
    val a = small.select(kc :+ col("id").as("id_a"): _*)
    val b = small.select(kc :+ col("id").as("id_b"): _*)
    val smallPairs = a.join(b, keyCols)
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    // bucket_rep = min(id), so id_a < id_b holds for star edges too
    val widePairs = stats
      .where(col("bucket_n") > cap && col("id") =!= col("bucket_rep"))
      .select(col("bucket_rep").as("id_a"), col("id").as("id_b"))
    smallPairs.unionByName(widePairs)
  }

  /** Diagnostic: the buckets the guard would degrade at this cap. */
  def oversizedBuckets(keyed: DataFrame, keyCols: Seq[String], cap: Int): DataFrame =
    keyed.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") > cap)

  /** Banded candidate ids (scalar-only: the distinct shuffles bare id pairs,
    * never signature payloads — those re-attach by key afterwards).
    */
  /** bands must tile the signature exactly: integer division would
    * silently EXCLUDE the trailing numHashes % bands components from every
    * band — computed and paid for, never influencing a key — and the
    * effective (bands, r) collision curve would differ from what the
    * caller tuned. Surfaced loudly instead.
    */
  private def requireBandsTile(numHashes: Int, bands: Int): Unit =
    require(bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must evenly divide numHashes ($numHashes) — " +
        s"${if (bands > 0) s"${numHashes % bands} trailing signature components would never reach a band key" else "zero bands is meaningless"}")

  private def minhashCandidates(signed: DataFrame, numHashes: Int, bands: Int,
                                maxBucket: Int): DataFrame = {
    requireBandsTile(numHashes, bands)
    guardedPairs(explodedBands(signed, bands, numHashes / bands),
      Seq("band", "band_key"), maxBucket).distinct()
  }

  // -------------------------------------------------------------- minhash

  /** B2 (oracle path) — MinHash signatures + LSH band keys per document.
    * The signature component is min over shingles of the i-th universal
    * hash; bands concatenate r adjacent components and re-hash. Per-row
    * array math only — the expensive part (banding join) happens on these
    * keys downstream.
    */
  def minhashSignature(spark: SparkSession, dir: String,
                       numHashes: Int = 16, bands: Int = 4, shingleK: Int = 3): DataFrame = {
    requireBandsTile(numHashes, bands)
    val r = numHashes / bands
    val bandCols = (0 until bands).map(b => bandKey(lit(b), r).as(s"band_$b"))
    Tables.documents(spark, dir)
      .withColumn("hashed", VectorExpressions.shingleHashes(col("text"), shingleK).getField("h24"))
      .withColumn("n_shingles", size(col("hashed")).cast("long"))
      .withColumn("sig", VectorExpressions.minhashFamily(col("hashed"), minhashCoefs(numHashes), MinhashP))
      .select(col("doc_id") +: col("n_shingles") +: bandCols: _*)
      .orderBy("doc_id")
  }

  /** B2 — LSH candidate pairs via explode-on-band + self-join on (band
    * index, band key), then MinHash-estimated Jaccard from signature
    * agreement. Never all-pairs: the join key is the band bucket, and
    * guardedPairs bounds every bucket. The DuckDB oracle replays candidates
    * AND estimates end-to-end. Registered (ordered by id_a, id_b, at these
    * defaults) as `dedup_minhash_pairs`.
    */
  def minhashPairs(docs: DataFrame, numHashes: Int = 32, bands: Int = 16,
                   shingleK: Int = 3, threshold: Double = 0.5,
                   maxBucket: Int = 256): DataFrame =
    // lazily persisted (see pairsFrom) — released by graft.Caches.clear
    pairsFrom(signatures(docs, numHashes, shingleK).persist(), numHashes, bands, threshold,
      maxBucket)

  /** B2b — b-BIT MINHASH (Li & König, CACM '11): keep only the lowest `b`
    * bits of every signature component, packed into ONE long per doc, and
    * estimate Jaccard from the b-bit collision rate with the collision-
    * floor correction Ĵ = (rate − C)/(1 − C), C = 2^−b. At b=2 a 32-hash
    * signature is 8 BYTES per document instead of 256 — and the signature
    * table is the asset that DOMINATES storage in petabyte-scale near-dup
    * runs (B2 persists it precisely because it is worth more than the
    * recompute). The variance cost is a known closed form (≈ the full
    * estimator's at high similarity, where dedup thresholds live — the
    * paper's regime); the candidate generation is UNCHANGED banded LSH on
    * the full-width signature, so recall is B2's, only the verify estimate
    * reads the compressed table. The packed-long XOR trick makes the
    * estimate one codegen'd expression: x = psig_a ⊕ psig_b, a component
    * collides iff its b-bit group in x is all-zero, so mismatches =
    * popcount of the group-wise OR of x's bits folded onto each group's
    * low bit — three bitwise ops + one `bit_count`, no array traversal.
    * The DuckDB oracle computes the SAME estimate component-wise from the
    * unpacked signatures (semantic form), so parity proves the packing is
    * lossless for the estimator.
    */
  def minhashBbitPairs(spark: SparkSession, dir: String, numHashes: Int = 32,
                       bands: Int = 16, shingleK: Int = 3, b: Int = 2,
                       threshold: Double = 0.5, maxBucket: Int = 256): DataFrame = {
    require(numHashes * b <= 64, s"packed signature must fit one long: $numHashes*$b > 64")
    val signed = signatures(Tables.documents(spark, dir), numHashes, shingleK).persist()
    val cands = minhashCandidates(signed, numHashes, bands, maxBucket)
    val mask = (1L << b) - 1
    val packExpr = (0 until numHashes).map { i =>
      shiftleft(element_at(col("sig"), i + 1).bitwiseAND(lit(mask)), b * i)
    }.reduce(_.bitwiseOR(_))
    val packed = signed.select(col("doc_id"), packExpr.as("psig"))
    val x = col("psig_a").bitwiseXOR(col("psig_b"))
    // fold each b-bit group's bits onto its low bit, then popcount
    val folded = (0 until b).map(j => shiftrightunsigned(x, j)).reduce(_.bitwiseOR(_))
    val groupLowBits = (0 until numHashes).map(i => 1L << (b * i)).reduce(_ | _)
    val mismatches = bit_count(folded.bitwiseAND(lit(groupLowBits))).cast("double")
    val c = 1.0 / (1L << b)
    val rate = (lit(numHashes.toDouble) - mismatches) / numHashes.toDouble
    val est = round(greatest((rate - lit(c)) / lit(1.0 - c), lit(0.0)), 6)
    cands
      .join(packed.select(col("doc_id").as("id_a"), col("psig").as("psig_a")), Seq("id_a"))
      .join(packed.select(col("doc_id").as("id_b"), col("psig").as("psig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), est.as("est_j_bbit"))
      .where(col("est_j_bbit") >= threshold)
      .orderBy("id_a", "id_b")
  }

  /** MinHash pairs at `threshold` over a (doc_id, sig) frame its caller
    * owns. The frame fans out to four consumers (bucket stats, band join,
    * and both sides of the signature re-attach), so callers persist it:
    * the expensive pass — shingling + content hashing — then runs exactly
    * once and everything downstream reads the narrow (doc_id, sig) cache.
    * Size: ~8 B/hash per doc (k×8 B ≈ 0.5 KB/doc at k=64) — a small
    * fraction of the raw text; MEMORY_AND_DISK spills at cluster scale.
    */
  private[graft] def pairsFrom(signed: DataFrame, numHashes: Int, bands: Int,
                             threshold: Double, maxBucket: Int): DataFrame = {
    val cands = minhashCandidates(signed, numHashes, bands, maxBucket)
    val sa = signed.select(col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val sb = signed.select(col("doc_id").as("id_b"), col("sig").as("sig_b"))
    cands.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      // agreement count in a codegen'd loop (ArrayAgreeCount) — the
      // aggregate(zip_with(...)) form pays an interpreted lambda per
      // signature component per candidate pair
      .withColumn("est_jaccard",
        VectorExpressions.agreeCount(col("sig_a"), col("sig_b")).cast("double")
          / lit(numHashes.toDouble))
      .where(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** B2c — near-dup dedup decision: drop every doc that matched an earlier
    * doc in any LSH bucket (keep-first by doc_id). Registered (doc_id, lang,
    * source, n_chars, ordered by doc_id) as `dedup_minhash_keep`.
    */
  def minhashDedup(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val dups = minhashPairs(docs, threshold = threshold)
      .select(col("id_b").as("doc_id")).distinct()
    docs.join(dups, Seq("doc_id"), "left_anti")
  }

  // -------------------------------------------------------------- simhash

  /** B3 — SimHash: 60-bit fingerprint from per-token bit votes over the
    * 60-bit md5-prefix token hash (15 hex chars parse identically in Spark
    * and DuckDB), banded as 4×15-bit chunks. The bit votes run in the
    * codegen'd BitVoteFingerprint expression (one pass, not 60 interpreted
    * folds). Registered (ordered by doc_id) as `dedup_simhash`.
    */
  def simhash(docs: DataFrame): DataFrame =
    docs
      .withColumn("hashed", VectorExpressions.tokenHashes(col("text")))
      .select(col("doc_id"), VectorExpressions.bitVote(col("hashed"), 60).as("simhash"))
      .withColumn("chunk0", col("simhash").bitwiseAND(lit(0x7FFFL)))
      .withColumn("chunk1", shiftright(col("simhash"), 15).bitwiseAND(lit(0x7FFFL)))
      .withColumn("chunk2", shiftright(col("simhash"), 30).bitwiseAND(lit(0x7FFFL)))
      .withColumn("chunk3", shiftright(col("simhash"), 45).bitwiseAND(lit(0x7FFFL)))

  /** B3c — SimHash candidate pairs: equal 15-bit chunk ⇒ candidate (catches
    * all pairs within Hamming distance 3 by pigeonhole); verify by exact
    * Hamming distance on the full fingerprint, end-to-end replayable by
    * DuckDB. Scalar-only candidate dedup; fingerprints re-attach by key;
    * buckets bounded by guardedPairs. Registered (ordered by id_a, id_b, at
    * these defaults) as `dedup_simhash_pairs`.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 8, maxBucket: Int = 256): DataFrame = {
    // one token-hash + bit-vote pass; fingerprints are 5 longs/doc
    val sh = simhash(docs).persist()
    val keyed = sh.select(col("doc_id").as("id"),
        explode(array((0 until 4).map(i => struct(lit(i).as("chunk_id"), col(s"chunk$i").as("chunk_val"))): _*)).as("c"))
      .select(col("id"), col("c.chunk_id"), col("c.chunk_val"))
    val cands = guardedPairs(keyed, Seq("chunk_id", "chunk_val"), maxBucket).distinct()
    val fa = sh.select(col("doc_id").as("id_a"), col("simhash").as("sim_a"))
    val fb = sh.select(col("doc_id").as("id_b"), col("simhash").as("sim_b"))
    cands.join(fa, Seq("id_a")).join(fb, Seq("id_b"))
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // -------------------------------------------------- n-gram Jaccard verify

  /** B4 (oracle anchor) — exact n-gram Jaccard on candidate pairs from cheap
    * blocking (same source + length bucket), with the SAME bucket-width
    * guard as the LSH paths: blocks wider than `maxBlock` degrade to a
    * linear star around the block's min id, so one popular (source, length)
    * block can never go quadratic at scale (VERDICT r3 weak #1 closed). The
    * oracle replays the guard via the shared guardedCand0 CTEs. The scale
    * path remains ngramJaccardLsh below, where candidates arrive via the
    * bounded LSH band join instead of length blocking.
    */
  def ngramJaccard(spark: SparkSession, dir: String, shingleK: Int = 3,
                   maxBlock: Int = 256): DataFrame = {
    // Intersect on 60-bit md5-prefix hashes of the shingles rather than the
    // strings: set sizes are unchanged (collisions ~ |sh|²/2^61 ≈ 0) and the
    // candidate-pair intersect stops hashing long strings. The same hashing
    // is reproduced in the DuckDB oracle ('0x'||substr(md5)::BIGINT).
    //
    // Unlike the banded LSH paths (bare-id candidates, signatures attached
    // after), each doc here sits in exactly ONE block, so the shingle
    // arrays ride INTO the block-keyed self-join: they shuffle once at doc
    // granularity (KBs per block) instead of twice at candidate-pair
    // granularity through id-keyed re-attach joins — measured ~50× less
    // shuffle at sf0.1 — and the intersect runs inside the join stage. The
    // bucket-width guard is an a-side prefilter: blocks wider than
    // `maxBlock` keep only their min-id row on the left, so a degenerate
    // block fans out to a linear star (rep × members), never n² — the same
    // pair set guardedPairs produces. Block stats come from a groupBy, NOT
    // a window over the block: the aggregate partial-combines map-side and
    // never buffers the block's array-carrying rows in one task (a window
    // would haul the hot block — the exact case the guard exists for —
    // through a single spillable buffer before the prefilter applies);
    // rep_id = min(id) is the same representative min(struct(id, sh))
    // picked, since ids are unique. The (source, len_bucket) exchange the
    // stats join introduces is the same partitioning the self-join needs.
    val base = Tables.documents(spark, dir)
      .select(col("doc_id").as("id"), col("source"), expr("n_chars div 100").as("len_bucket"),
        VectorExpressions.shingleHashes(col("text"), shingleK).getField("hv").as("sh"))
    val blockStats = base.groupBy("source", "len_bucket")
      .agg(count(lit(1)).as("bucket_n"), min(col("id")).as("rep_id"))
    val stats = base.join(blockStats, Seq("source", "len_bucket"))
    val a = stats.where(col("bucket_n") <= maxBlock || col("id") === col("rep_id"))
      .select(col("source"), col("len_bucket"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = stats.select(col("source"), col("len_bucket"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("source", "len_bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), exactJaccard.as("jaccard"))
      .where(col("jaccard") >= 0.05)
      .orderBy("id_a", "id_b")
  }

  /** B4c — EXACT Jaccard similarity self-join via prefix filtering (the
    * PPJoin/AllPairs family: Bayardo et al. WWW'07, Chaudhuri et al.
    * ICDE'06) — every pair with n-gram Jaccard ≥ `minJaccard`, with NO
    * false negatives. The LSH path (B4/B2) trades recall for linearity;
    * the blocked path (B4 `ngram_jaccard`) only compares within
    * (source, length) blocks. This is the third point on that design
    * surface: exact global semantics with sub-quadratic candidates, the
    * right tool when a compliance run must PROVE no near-duplicate above
    * threshold survived.
    *
    * The filter: order every document's shingle set by ascending document
    * frequency (rarest first, ties by hash — one GLOBAL total order), and
    * keep only the first `n − ⌈t·n⌉ + 1` elements as its prefix. If
    * J(a,b) ≥ t then |a∩b| ≥ ⌈t·n_a⌉ and ≥ ⌈t·n_b⌉, so the smallest
    * common element under the global order provably falls inside BOTH
    * prefixes — an equi-join on prefix elements finds every qualifying
    * pair. Rarest-first makes prefix elements the LOW-df hashes, so
    * candidate fan-out is Σ df² over each doc's rarest grams, not its
    * boilerplate; a size gate (t·max(n_a,n_b) ≤ min(n_a,n_b), necessary
    * for J ≥ t) prunes cross-length pairs before the verify. All
    * threshold arithmetic runs in DECIMAL so the prefix length and size
    * gate are integer-exact — a float ⌈t·n⌉ rounding up by 1 ulp would
    * silently DROP qualifying pairs, the one failure mode an exact
    * operator cannot have.
    *
    * Scale shape: df is a map-side-combined groupBy on the hash; the
    * prefix rank is a per-doc window (bounded by doc length); candidates
    * shuffle on single hash keys (narrow rows, no arrays); the verify
    * re-attaches the two shingle arrays by id — the LSH verify's exact
    * shape. Worst case is inherent to the exact problem (a corpus of n
    * identical docs HAS n² qualifying pairs); for that regime the
    * LSH+cluster path (B2/B19) is the registered alternative. The DuckDB
    * oracle is SEMANTIC — pairs sharing ≥1 shingle, exact-verified — not a
    * prefix-construction replay, so parity proves the filter loses
    * nothing.
    */
  def jaccardPrefixPairs(spark: SparkSession, dir: String, shingleK: Int = 5,
                         minJaccard: Double = 0.5): DataFrame = {
    val t = lit(minJaccard).cast("decimal(9,6)")
    val (hashed, _, prefix) = rarestFirstPrefix(spark, dir, shingleK, t)
    // Both candidate-join sides are corpus-scale; Catalyst's static size
    // estimate under the window filter reads small enough to BROADCAST
    // one, which OOMs at 50x (measured) — the merge hint pins the join to
    // sort-merge, the only strategy whose memory is bounded at any scale.
    val cands = prefix.select(col("doc_id").as("id_a"), col("h"), col("n").as("n_a"))
      .hint("merge")
      .join(prefix.select(col("doc_id").as("id_b"), col("h"), col("n").as("n_b"))
        .hint("merge"), Seq("h"))
      .where(col("id_a") < col("id_b") &&
        t * greatest(col("n_a"), col("n_b")) <= least(col("n_a"), col("n_b")))
      .select("id_a", "id_b").distinct()
    val a = hashed.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = hashed.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    cands.join(a.hint("merge"), Seq("id_a")).join(b.hint("merge"), Seq("id_b"))
      .select(col("id_a"), col("id_b"), exactJaccard.as("jaccard"))
      .where(col("jaccard") >= minJaccard)
      .orderBy("id_a", "id_b")
  }

  /** The rarest-first prefix filter of [[jaccardPrefixPairs]] and
    * [[containmentPrefixPairs]]: each doc's non-empty shingle-hash set
    * (doc_id, sh — persisted), its exploded (doc_id, n, h) rows, and its
    * prefix — the first n − ⌈t·n⌉ + 1 hashes in ascending (df, h) order,
    * `t` a decimal threshold so the prefix length is integer-exact.
    */
  private def rarestFirstPrefix(spark: SparkSession, dir: String, shingleK: Int,
                                t: Column): (DataFrame, DataFrame, DataFrame) = {
    val hashed = hashedDocs(Tables.documents(spark, dir), shingleK)
      .select(col("doc_id"), col("hs.hv").as("sh"))
      .where(size(col("sh")) > 0)
      .persist()
    // Every join in both operators meets two corpus-scale sides (the
    // exploded shingle frame, the distinct-shingle df table, the
    // array-carrying signature table). Catalyst's static estimates under
    // explode/window/persist read small enough to pick BROADCAST builds
    // that OOM at 50x (measured) — the merge hints pin them to sort-merge,
    // the only strategy whose memory is bounded at any scale.
    val ex = hashed.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("h"))
    val dfTbl = ex.groupBy("h").agg(count(lit(1)).as("df"))
    val prefix = ex.hint("merge").join(dfTbl.hint("merge"), Seq("h"))
      .withColumn("rnk",
        row_number().over(Window.partitionBy("doc_id").orderBy("df", "h")))
      .where(col("rnk") <= col("n") - ceil(t * col("n")) + 1)
    (hashed, ex, prefix)
  }

  /** |sh_a ∩ sh_b| and the exact Jaccard of the two shingle-hash sets
    * (rounded at 6 dp) — the verify every n-gram Jaccard join runs.
    */
  private val sharedShingles = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
  private val exactJaccard = round(sharedShingles /
    (size(col("sh_a")).cast("double") + size(col("sh_b")).cast("double") - sharedShingles), 6)

  /** B4d — exact n-gram CONTAINMENT join: all ordered pairs with
    * C(a→b) = |sh(a) ∩ sh(b)| / |sh(a)| ≥ t — "most of a's shingles occur
    * in b" — the ASYMMETRIC relation [[jaccardPrefixPairs]] cannot see:
    * a document quoted or embedded whole inside a much longer one has
    * containment ≈ 1 while its Jaccard drowns in the length mismatch
    * (J = |a|/|b| for a ⊂ b). This is the quote/boilerplate-embedding
    * detector: near-dup dedup keeps one of a MUTUAL pair, while a
    * one-directional hit marks a SUBSUMED doc (drop a, keep b) or a
    * template wrapper.
    *
    * Same prefix-filter theorem, asymmetric form: C(a→b) ≥ t ⇒
    * |a∩b| ≥ ⌈t·n_a⌉ ⇒ a's rarest-first prefix of length n_a − ⌈t·n_a⌉ + 1
    * must hit b SOMEWHERE — so candidates are a-prefix × b-FULL-index
    * (the probe side cannot prefix-prune; that asymmetry is inherent to
    * the predicate, and the rarest-first ordering keeps the exploded side
    * on low-df grams). Decimal threshold math and the size gate
    * t·n_a ≤ n_b (|a∩b| ≤ n_b) follow B4c exactly. Oracle is semantic
    * (pairs sharing ≥1 shingle, exact-verified), so parity proves no
    * qualifying pair is lost.
    */
  def containmentPrefixPairs(spark: SparkSession, dir: String, shingleK: Int = 5,
                             minContain: Double = 0.9): DataFrame = {
    val t = lit(minContain).cast("decimal(9,6)")
    val (hashed, ex, prefix) = rarestFirstPrefix(spark, dir, shingleK, t)
    val prefixA = prefix.select(col("doc_id").as("id_a"), col("n").as("n_a"), col("h"))
    // corpus-scale x corpus-scale candidate join: pin to sort-merge (the
    // static post-window estimate otherwise picks a broadcast that OOMs
    // at 50x — same fix as jaccardPrefixPairs, measured there)
    val cands = prefixA.hint("merge")
      .join(ex.select(col("doc_id").as("id_b"), col("n").as("n_b"), col("h"))
        .hint("merge"), Seq("h"))
      .where(col("id_a") =!= col("id_b") && t * col("n_a") <= col("n_b"))
      .select("id_a", "id_b").distinct()
    cands
      .join(hashed.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
        .hint("merge"), Seq("id_a"))
      .join(hashed.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
        .hint("merge"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(sharedShingles / size(col("sh_a")).cast("double"), 6).as("containment"))
      .where(col("containment") >= minContain)
      .orderBy("id_a", "id_b")
  }

  /** B4 (scale path) — exact n-gram Jaccard verify fed by MinHash-LSH
    * candidates: the banded equi-join proposes pairs, the exact intersect
    * confirms them. Linear in data size for bounded buckets — the composed
    * near-dup pipeline a 100 TB run registers. Each shingle is md5'd ONCE;
    * the 24-bit banding base and the 60-bit verify hash are prefixes of
    * that one digest, so DuckDB replays candidates AND the exact verify.
    * Registered (ordered by id_a, id_b, at these defaults) as
    * `ngram_jaccard_lsh`.
    *
    * The hashed table is persisted so the one expensive pass — shingling +
    * content hashing — feeds bucket stats, the band join, and both verify
    * sides without recomputation; signatures derive from the cached h24 (a
    * cheap codegen'd fold) and only candidate pairs pay the set-intersect
    * cost on hv. NOTE the cache is corpus-scale (~8 B per shingle ≈ half
    * the raw text bytes): the standard materialize-the-signature-table
    * shape of large dedup runs, with MEMORY_AND_DISK spill; a cluster that
    * cannot afford it trades the persist for recompute (3 passes) by
    * dropping it.
    */
  def ngramJaccardLsh(docs: DataFrame, shingleK: Int = 3, minJaccard: Double = 0.5,
                      numHashes: Int = 32, bands: Int = 16, maxBucket: Int = 256): DataFrame = {
    val hashed = hashedDocs(docs, shingleK).persist()
    val signed = hashed.select(col("doc_id"),
      VectorExpressions.minhashFamily(col("hs.h24"), minhashCoefs(numHashes), MinhashP).as("sig"))
    val cands = minhashCandidates(signed, numHashes, bands, maxBucket)
    val a = hashed.select(col("doc_id").as("id_a"), col("hs.hv").as("sh_a"))
    val b = hashed.select(col("doc_id").as("id_b"), col("hs.hv").as("sh_b"))
    cands.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .select(col("id_a"), col("id_b"), exactJaccard.as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** B4b — near-dup pair EXPLANATION: for every verified LSH pair, the
    * disjoint matched-k-gram token ISLANDS in id_a's coordinates — where
    * inside the document the overlap actually sits and how long it runs.
    * A jaccard score says two docs are near-dups; a reviewer deciding
    * survivor-vs-drop (or debugging a surprising pair) needs the WHERE —
    * the doc-vs-doc sibling of B13c's eval-vs-corpus span report, sharing
    * its island rule (consecutive matched starts merge while coverage can
    * overlap; a start gap > k means ≥1 clean token between, so spans are
    * disjoint by construction).
    *
    * Scale shape: pairs come from the SAME guarded banded-LSH verify as
    * `ngram_jaccard_lsh` (bounded, never all-pairs); the positional pass
    * joins pairs → a-side positions by id_a and probes the b-side distinct
    * gram set by (id_b, h) — both keyed equi-joins, work ∝ matched grams
    * of emitted pairs, not the corpus. Docs shorter than k tokens carry no
    * full k-gram and yield no spans (their pairs still report jaccard).
    */
  def dupPairSpans(spark: SparkSession, dir: String,
                   shingleK: Int = DefaultShingleK,
                   minJaccard: Double = 0.5): DataFrame = {
    val k = shingleK
    val pairs = ngramJaccardLsh(Tables.documents(spark, dir), shingleK = k,
      minJaccard = minJaccard)
    val st = positionalGrams(Tables.documents(spark, dir)
      .where(size(split(col("text"), " ")) >= k), k)
      .persist() // two consumers: a-side positions + b-side gram sets
    val aSide = pairs.join(st.withColumnRenamed("doc_id", "id_a"), Seq("id_a"))
    val bSet = st.select(col("doc_id").as("id_b"), col("h")).distinct()
    val matched = aSide.join(bSet, Seq("id_b", "h"))
      .select(col("id_a"), col("id_b"), col("jaccard"), col("pos"))
    // jaccard is fixed per (id_a, id_b): keying on it splits no island
    islands(matched, Seq("id_a", "id_b", "jaccard"), k, count(lit(1)).as("n_grams"))
  }

  /** B59 — LSH candidate-precision report: one row summarizing how well the
    * banding is tuned — candidate pairs produced, candidates whose EXACT
    * Jaccard clears the dedup threshold, and the precision ratio. Precision
    * far below target means the bands are too permissive (the verify stage
    * — the expensive exact-Jaccard join — is mostly wasted work); candidate
    * count is the LSH cost driver itself. Same banded candidate generation
    * and exact verify as the registered `ngram_jaccard_lsh` (minJaccard 0
    * keeps every candidate scored), collapsed map-side to one row — the
    * report costs what the verify already cost, plus nothing.
    */
  def lshPrecision(spark: SparkSession, dir: String, shingleK: Int = 3,
                   minJaccard: Double = 0.5, numHashes: Int = 32,
                   bands: Int = 16, maxBucket: Int = 256): DataFrame =
    ngramJaccardLsh(Tables.documents(spark, dir), shingleK, minJaccard = 0.0,
      numHashes, bands, maxBucket)
      .agg(count(lit(1)).as("candidates"),
        sum((col("jaccard") >= minJaccard).cast("long")).as("accepted"))
      .select(col("candidates"), col("accepted"),
        round(col("accepted").cast("double") / col("candidates"), 6).as("lsh_precision"))

  /** (doc_id, hs struct(h24, hv)): one shingling + hashing pass per doc. */
  private def hashedDocs(docs: DataFrame, shingleK: Int): DataFrame =
    docs.select(col("doc_id"), VectorExpressions.shingleHashes(col("text"), shingleK).as("hs"))

  /** B20 (batch analog of the streaming ingest, oracle path) — incremental
    * dedup: the corpus's newer half arrives as a delivery and is deduped
    * against the older half's content-hash index — keep-first within the
    * delivery, then a left-anti join against history. The index side is a
    * bare hash column (narrow), the join is keyed on the hash: the exact
    * shape `graft.streaming.DedupIngest` runs per micro-batch at 100 TB.
    * The split point is max(doc_id)/2 computed as a broadcast 1-row join —
    * no driver-side scalar fetch.
    */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val m = docs.agg(expr("max(doc_id) div 2").as("mid"))
    val withMid = docs.crossJoin(broadcast(m))
    val hist = withMid.where(col("doc_id") <= col("mid"))
      .select(md5(col("text")).as("text_hash")).distinct()
    // the per-delivery dedup itself IS the streaming implementation — one
    // shared body, so the oracle on this query covers the ingest path too
    graft.streaming.DedupIngest.dedupBatch(
        withMid.where(col("doc_id") > col("mid")), hist)
      .select("doc_id", "lang", "source", "n_chars", "text_hash")
      .orderBy("doc_id")
  }

  // ------------------------------------------------------ duplicate clusters

  /** B19 — duplicate-cluster assembly: connected components over the
    * near-dup pair graph (a≈b, b≈c ⇒ {a,b,c} are one cluster), the step that
    * turns pairwise LSH output into the keep-one-per-cluster decision a real
    * dedup run ships. Iterative min-label propagation: every node starts
    * labeled with its own id and repeatedly takes the min of its neighbors'
    * labels; at fixpoint the label is the component's min id.
    *
    * Scale shape: each iteration is one keyed join + partial-aggregated
    * groupBy on the edge list — no collect of data rows; the driver reads
    * ONE scalar (the changed-label count) per iteration to detect
    * convergence, and `localCheckpoint` truncates the growing lineage.
    * Iterations = component diameter; near-dup clusters are dense (most are
    * cliques from a shared bucket), so diameter stays small. A worst-case
    * chain topology would take O(n) rounds — past `maxIter` the loop
    * escalates to [[starContraction]] (large-star/small-star, O(log² n)
    * rounds, same keyed-join-per-round shape), so chain-shaped duplicate
    * graphs still resolve instead of failing. Superseded per-round
    * checkpoints are unpersisted as soon as the next round materializes,
    * so long runs hold exactly one label table in the block manager
    * (lingering blocks were VERDICT r3's bench-pollution finding).
    *
    * Small-graph short circuit: when the (already LSH-thinned, bucket-
    * capped) edge list holds at most `localEdgeCap` edges — known from the
    * count that materializes the persisted edge list anyway — components
    * resolve by union-find on the driver: one collect bounded at
    * localEdgeCap × 16 bytes (1 MiB at the default), no iterative jobs at
    * all. Each distributed round costs a join + groupBy + scalar action;
    * on a graph this small that fixed cost dwarfs the work, and real LSH
    * dup graphs ARE small relative to their corpus (pairs survive banding
    * + bucket caps). Corpora whose dup graph outgrows the cap take the
    * distributed loop unchanged; `localEdgeCap = 0` forces it (the specs
    * covering the distributed rounds do).
    */
  def dupClusters(spark: SparkSession, dir: String, threshold: Double = 0.5,
                  maxIter: Int = 50, localEdgeCap: Int = 1 << 16): DataFrame = {
    // Construction is LAZY (VERDICT r8 #3): the gate count + iterative
    // rounds below run at the caller's first action, not while the caller
    // is still composing a plan over this result.
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = true),
      StructField("cluster_id", LongType, nullable = true),
      StructField("cluster_size", LongType, nullable = true)))
    graft.plans.DeferredFrame(spark, schema)(() =>
      eagerDupClusters(spark, dir, threshold, maxIter, localEdgeCap))
  }

  /** The driver-iterative body of [[dupClusters]] — runs jobs (gate count,
    * propagation rounds) as it executes, which is why it sits behind a
    * [[graft.plans.DeferredFrame]] thunk rather than in the public API.
    */
  private def eagerDupClusters(spark: SparkSession, dir: String, threshold: Double,
                               maxIter: Int, localEdgeCap: Int): DataFrame = {
    // ONE persisted copy of the undirected pair list. Symmetrizing with
    // unionByName(pairs, flip(pairs)) would plan the whole LSH subtree
    // twice (only the persisted signatures are shared); the distributed
    // loop instead doubles rows with a single explode over the cache, and
    // union-find needs no symmetry at all.
    val resolved = Caches.persisted(minhashPairs(Tables.documents(spark, dir), threshold = threshold)
        .select("id_a", "id_b")) { pairs =>
      val nPairs = pairs.count() // materializes the persisted pair list
      if (nPairs <= localEdgeCap)
        localUnionFind(spark, pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      else
        Caches.persisted(pairs.select(explode(array(
            struct(col("id_a").as("src"), col("id_b").as("dst")),
            struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
          .select("e.src", "e.dst"))(propagateLabels(_, maxIter))
    }
    resolved
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .orderBy("doc_id")
  }

  /** B19c — duplicate-cluster size histogram (r15): cluster_size →
    * (n_clusters, n_docs) over the B19 cluster table — the one-page "how
    * duplicated is this corpus" summary a dedup run reports before anyone
    * reads per-doc rows (mass in large clusters = viral boilerplate; a
    * long singleton-pair tail = near-dup noise at the threshold). Rides
    * the ENTIRE registered cluster machinery (banded LSH → guarded pairs
    * → hybrid components), then collapses to a histogram bounded by the
    * largest cluster — a two-column partial-agg groupBy over the cluster
    * table, which is already tiny relative to the corpus.
    */
  def dupClusterSizes(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("cluster_size", LongType, nullable = true),
      StructField("n_clusters", LongType, nullable = false),
      StructField("n_docs", LongType, nullable = false)))
    graft.plans.DeferredFrame(spark, schema)(() =>
      eagerDupClusters(spark, dir, threshold = 0.5, maxIter = 50,
        localEdgeCap = 1 << 16)
        .groupBy("cluster_size")
        .agg(countDistinct(col("cluster_id")).as("n_clusters"),
          count(lit(1)).as("n_docs"))
        .orderBy("cluster_size"))
  }

  /** B19b — keep-best-per-cluster: the decision step after cluster
    * assembly. Real pipelines keep each duplicate cluster's HIGHEST-QUALITY
    * member, not its lowest id (the first crawl of a page is often the
    * worst copy); ties break on doc_id for determinism. One keyed join
    * (clustered ids ⋈ quality scores — the cluster table is tiny relative
    * to the corpus) and one ranked window per cluster. Quality is the B8
    * score, so both engines compute it bit-identically.
    */
  def clusterKeepBest(spark: SparkSession, dir: String): DataFrame = {
    // Deferred like dupClusters — and the thunk composes on the EAGER body,
    // not the deferred leaf: the local-path cluster table is a LocalRelation
    // the optimizer can see is tiny and broadcast, where a join against the
    // opaque deferred leaf would be forced to shuffle the quality side.
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("cluster_id", LongType, nullable = true),
      StructField("cluster_size", LongType, nullable = true),
      StructField("keep_id", LongType, nullable = true),
      StructField("quality_score", DoubleType, nullable = true)))
    graft.plans.DeferredFrame(spark, schema)(() => eagerClusterKeepBest(spark, dir))
  }

  private def eagerClusterKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val clusters = eagerDupClusters(spark, dir, threshold = 0.5,
      maxIter = 50, localEdgeCap = 1 << 16)
    val q = TextAnalysis.quality(spark, dir).select(col("doc_id"), col("quality_score"))
    val byCluster = Window.partitionBy("cluster_id")
      .orderBy(col("quality_score").desc, col("doc_id"))
    clusters.join(q, Seq("doc_id"))
      .withColumn("rn", row_number().over(byCluster))
      .where(col("rn") === 1)
      .select(col("cluster_id"), col("cluster_size"),
        col("doc_id").as("keep_id"), col("quality_score"))
      .orderBy("cluster_id")
  }

  /** Driver-side connected components for a bounded edge list: classic
    * union-find with path compression, rooting every component at its MIN
    * id (the same label the distributed paths converge to). The collect is
    * size-gated by the caller — this is the small side of the hybrid, not
    * a distributed operator.
    */
  private[graft] def localUnionFind(spark: SparkSession, edges: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n } // compress
      r
    }
    edges.select(col("src"), col("dst")).collect().foreach { row =>
      val (a, b) = (row.getLong(0), row.getLong(1))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb // min id wins
      }
    }
    val labels = parent.keysIterator.map(n => (n, find(n))).toSeq
    import spark.implicits._
    labels.toDF("id", "lbl")
  }

  /** Distributed min-label propagation with star-contraction escalation —
    * the scale path of [[dupClusters]]; `edges` must be persisted and
    * symmetric (both directions present).
    */
  private def propagateLabels(edges: DataFrame, maxIter: Int): DataFrame = {
    // seeded init: lbl = min(id, min neighbor) — the same aggregation a
    // plain distinct() would shuffle, but it folds what would otherwise be
    // the entire first propagation round into the seed (dense clusters
    // converge one round earlier)
    // lazy checkpoints throughout the loop: the labelSum probe right after
    // each checkpoint materializes the blocks AND reads the scalar in the
    // SAME job, halving the per-round fixed cost (job launch + 32-task
    // scheduling) that dominates when the dup graph is small
    var (labels, labelBlocks) = checkpointTracked(
      edges.groupBy("src")
        .agg(least(min(col("dst")), col("src")).as("lbl"))
        .select(col("src").as("id"), col("lbl")),
      eager = false)
    // convergence probe: labels only ever DECREASE, so the label sum is a
    // strictly-decreasing potential until fixpoint — comparing one scalar
    // aggregate per round replaces a keyed join against the previous round
    // (decimal sum: overflow-proof at any corpus size)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val nbrMin = edges.join(labels, edges("src") === labels("id"))
        .groupBy(col("dst").as("nid")).agg(min("lbl").as("nbr_lbl"))
      val (next, nextBlocks) = checkpointTracked(
        labels.join(nbrMin, labels("id") === nbrMin("nid"), "left_outer")
          .select(col("id"),
            least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("lbl")),
        eager = false)
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labelBlocks.foreach(_.unpersist(blocking = false))
      labels = next
      labelBlocks = nextBlocks
      iter += 1
    }
    if (converged) labels
    else {
      // Diameter exceeded the propagation budget: chain-shaped graph.
      // Star contraction converges in O(log² n) rounds regardless of
      // diameter; the propagation rounds already run only shrank labels
      // toward the component min, so restarting from the raw edges is
      // correct (the edge list was never mutated).
      labelBlocks.foreach(_.unpersist(blocking = false))
      starContraction(edges)._1
    }
  }

  /** localCheckpoint + the persistent-RDD blocks it created, so iterative
    * callers can release superseded rounds (the checkpointed RDD is not
    * owned by the SQL cache manager — clearCache never frees it).
    */
  private def checkpointTracked(df: DataFrame, eager: Boolean = true)
      : (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
    // Pull the checkpointed RDD straight out of the returned plan (a
    // localCheckpoint'd Dataset is a LogicalRDD leaf over the persisted
    // blocks) rather than diffing sc.getPersistentRDDs around the call —
    // the set-diff would also capture RDDs a CONCURRENT job persisted in
    // that window, and unpersisting a stranger's lineage-truncated
    // checkpoint kills that job. `eager = false` lets an iterative caller
    // fold block materialization into its convergence probe — one Spark job
    // per round instead of checkpoint-job + probe-job.
    val cp = df.localCheckpoint(eager)
    val owned = cp.queryExecution.logical.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    (cp, owned)
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    * each round rewires every node's larger neighbors (large-star) then its
    * smaller neighbors and itself (small-star) to the minimum of its
    * neighborhood. The edge set converges to a star forest rooted at each
    * component's min id in O(log² n) rounds independent of diameter — the
    * escalation path for chain-shaped duplicate graphs where min-label
    * propagation's O(diameter) rounds would not terminate in budget.
    *
    * Per-round shape is identical to propagation — a keyed join plus a
    * partial-aggregated groupBy on bare id pairs, one scalar convergence
    * probe — so the 100 TB cost model carries over. Input: an edge list
    * with columns (src, dst), either direction, self-loops tolerated.
    * Returns ((id, lbl) labels for every node incident to an edge, rounds).
    */
  def starContraction(edges0: DataFrame, maxRounds: Int = 40): (DataFrame, Int) = {
    // canonical undirected form: (big, small), self-loops dropped
    var (e, eBlocks) = checkpointTracked(
      edges0.select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .where(col("src") =!= col("dst")).distinct())
    var converged = false
    var round = 0
    var eCount = e.count()
    while (!converged && round < maxRounds) {
      // large-star: for each u, attach every strictly-larger neighbor v to
      // m = min(Γ(u) ∪ {u}); edges stay (big, small) because v > u ≥ m
      val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy("src").agg(least(min(col("dst")), col("src")).as("m"))
      val large = sym.where(col("dst") > col("src"))
        .join(mins, Seq("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .where(col("src") =!= col("dst")).distinct()
      // small-star: for each u, attach its smaller neighborhood and u itself
      // to m = min of that neighborhood; large-star left every edge in
      // (big, small) form, so `large` IS the (u, smaller-neighbor) relation
      val smallN = large
      val sMins = smallN.groupBy("src").agg(min("dst").as("m"))
      val (next, nextBlocks) = checkpointTracked(
        smallN.join(sMins, Seq("src"))
          .select(col("dst").as("src"), col("m").as("dst"))
          .unionByName(sMins.select(col("src"), col("m").as("dst")))
          .where(col("src") =!= col("dst")).distinct(),
        eager = false)
      // set equality with ONE difference job: both sides are distinct(), so
      // next ⊆ e together with |next| = |e| implies next = e. The count
      // also materializes the lazy checkpoint blocks for this round.
      val nextCount = next.count()
      converged = nextCount == eCount && next.exceptAll(e).limit(1).count() == 0
      eCount = nextCount
      eBlocks.foreach(_.unpersist(blocking = false))
      e = next
      eBlocks = nextBlocks
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"starContraction did not converge in $maxRounds rounds — " +
          "not expected for any graph of < 2^40 nodes; check edge input")
    // star forest: every non-root points straight at its component min
    val labels = e.select(col("src").as("id"), col("dst").as("lbl"))
      .groupBy("id").agg(min("lbl").as("lbl"))
    val roots = e.select(col("dst").as("id")).distinct()
      .join(e.select(col("src").as("id")).distinct(), Seq("id"), "left_anti")
      .withColumn("lbl", col("id"))
    (labels.unionByName(roots), round)
  }
}
