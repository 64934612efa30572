package graft

import graft.functions.VectorExpressions
import graft.ops.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The custom expressions must be bit-identical to the composed-builtin
  * formulations they replace — that equivalence is what keeps the DuckDB
  * oracles honest. Checked on real corpus text plus crafted edge cases
  * (multiple spaces → empty tokens, short docs, non-ASCII).
  */
class FunctionsSpec extends SparkSpec {

  private def corpus(): DataFrame = {
    val s = spark
    import s.implicits._
    val crafted = Seq(
      (9001L, "short"),
      (9002L, "two tokens"),
      (9003L, "a  double  space musters empty tokens"),
      (9004L, "héllo wörld ünicode text straße añejo"),
      (9005L, "x y z x y z x y z")) // repeated shingles → distinct matters
    Tables.documents(spark, sf0001).select("doc_id", "text").limit(20)
      .union(crafted.toDF("doc_id", "text"))
  }

  /** The builtin shingle formulation ShingleHashes replaces. */
  private def builtinShingles(text: Column, k: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(size(split(text, " ")) - lit(k - 1), lit(1))),
      i => concat_ws(" ", slice(split(text, " "), i, lit(k)))))

  test("ShingleHashes(md5) == conv(substring(md5(shingle))) prefixes") {
    val df = corpus().select(
      VectorExpressions.shingleHashes(col("text"), 3).as("hs"),
      transform(builtinShingles(col("text"), 3),
        s => conv(substring(md5(s), 1, 6), 16, 10).cast("long")).as("expected_h24"),
      transform(builtinShingles(col("text"), 3),
        s => conv(substring(md5(s), 1, 15), 16, 10).cast("long")).as("expected_hv"))
    val bad = df.where(col("hs.hv") =!= col("expected_hv") || col("hs.h24") =!= col("expected_h24"))
    assert(bad.count() === 0, bad.collect().take(2).mkString("\n"))
  }

  test("MinHashFamily == the k transform+array_min passes it replaces") {
    val coefs = Dedup.minhashCoefs(16)
    val hashed = transform(builtinShingles(col("text"), 3),
      s => xxhash64(s).bitwiseAND(lit(0xFFFFFFL)))
    val expected = array(coefs.map { case (a, b) =>
      array_min(transform(hashed, h => (h * a + b) % Dedup.MinhashP))
    }: _*)
    val df = corpus().select(
      VectorExpressions.minhashFamily(hashed, coefs, Dedup.MinhashP).as("got"),
      expected.as("expected"))
    val bad = df.where(col("got") =!= col("expected"))
    assert(bad.count() === 0, bad.collect().take(2).mkString("\n"))
  }

  test("QuantizeVector == the four HOF passes it replaces, bit for bit") {
    val v = transform(col("embedding"), x => x.cast("double"))
    val maxabs = array_max(transform(v, x => abs(x)))
    val q = transform(v, x =>
      when(maxabs === 0.0, lit(0L))
        .otherwise(floor(x * lit(127.0) / maxabs + lit(0.5)).cast("long")))
    val df = Tables.embeddings(spark, sf0001).limit(100).select(
      VectorExpressions.quantizeVector(col("embedding")).as("got"),
      maxabs.as("e_maxabs"),
      aggregate(v, lit(0.0), (acc, x) => acc + x * x).as("e_ss"),
      concat_ws(",", q).as("e_csv"))
    val bad = df.where(col("got.maxabs") =!= col("e_maxabs") ||
      col("got.ss") =!= col("e_ss") || col("got.q_csv") =!= col("e_csv"))
    assert(bad.count() === 0, bad.collect().take(2).mkString("\n"))
  }

  test("QuantizeVector matches the HOF form on degenerate vectors (empty, NaN, zero)") {
    val s = spark
    import s.implicits._
    val weird = Seq(
      Array.empty[Double],
      Array(Double.NaN, 1.0),
      Array(1.0, Double.NaN),
      Array(0.0, 0.0),
      Array(Double.PositiveInfinity, -2.0)
    ).toDF("embedding")
    val v = col("embedding")
    val maxabs = array_max(transform(v, x => abs(x)))
    val q = transform(v, x =>
      when(maxabs === 0.0, lit(0L))
        .otherwise(floor(x * lit(127.0) / maxabs + lit(0.5)).cast("long")))
    val df = weird.select(
      VectorExpressions.quantizeVector(v).as("got"),
      maxabs.as("e_maxabs"),
      aggregate(v, lit(0.0), (acc, x) => acc + x * x).as("e_ss"),
      concat_ws(",", q).as("e_csv"))
    val bad = df.where(
      (col("got.maxabs") =!= col("e_maxabs")) ||
        (col("got.maxabs").isNull =!= col("e_maxabs").isNull) ||
        (isnan(col("got.maxabs")) =!= isnan(col("e_maxabs"))) ||
        col("got.ss") =!= col("e_ss") || col("got.q_csv") =!= col("e_csv"))
    assert(bad.count() === 0, bad.collect().take(5).mkString("\n"))
  }

  test("StopwordHits == one filter-lambda pass per language, token count included") {
    val sw = graft.ops.TextAnalysis.langStopwords
    val tokens = split(lower(col("text")), " ")
    val expected = array(sw.map { case (_, words) =>
      val arr = array(words.map(lit): _*)
      size(filter(tokens, t => array_contains(arr, t))).cast("long")
    }: _*)
    val df = corpus().select(
      VectorExpressions.stopwordHits(col("text"), sw.map(_._2)).as("got"),
      expected.as("e_hits"),
      size(tokens).cast("long").as("e_n"))
    val bad = df.where(col("got.hits") =!= col("e_hits") || col("got.n_tokens") =!= col("e_n"))
    assert(bad.count() === 0, bad.collect().take(2).mkString("\n"))
  }

  test("TokenCounts == split-size and regexp_extract_all-size, adversarial strings included") {
    val s = spark
    import s.implicits._
    // the regex form it replaces, verbatim from the pre-r15 operator —
    // uppercase (outside [a-z]), unicode, a supplementary (astral) char
    // that a UTF-16-unit scan would double-count, empty string, and
    // leading/trailing/double spaces (empty split tokens)
    val adversarial = Seq(
      (1L, ""), (2L, " "), (3L, "  "), (4L, "a"), (5L, "A"),
      (6L, "abc123 x,y;z"), (7L, " lead trail "), (8L, "a  b"),
      (9L, "héllo wörld straße"), (10L, "emoji 😀 end"),
      (11L, "punct!!!only???"), (12L, "1a2b3c"), (13L, "mixed CASE Words"))
      .toDF("doc_id", "text")
    val df = corpus().select("doc_id", "text").union(adversarial)
      .select(
        VectorExpressions.tokenCounts(col("text")).as("tc"),
        size(split(col("text"), " ")).cast("long").as("exp_ws"),
        size(expr("regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("exp_bpeish"))
    val bad = df.where(col("tc.ws_tokens") =!= col("exp_ws") ||
      col("tc.bpeish_tokens") =!= col("exp_bpeish"))
    assert(bad.count() === 0, bad.collect().take(3).mkString("\n"))
  }

  test("TermFrequencies == the split+filter counts it replaces, adversarial strings included") {
    val s = spark
    import s.implicits._
    val terms = Seq("spark", "window", "merge", "a", "")
    val adversarial = Seq(
      (1L, ""), (2L, " "), (3L, "a  a"), (4L, "spark spark spark"),
      (5L, " spark"), (6L, "sparkx xspark spark"), (7L, "mergewindow merge window"),
      (8L, "héllo spark wörld"), (9L, "emoji 😀 spark"))
      .toDF("doc_id", "text")
    val tokens = split(col("text"), " ")
    val expTf = array(terms.map(t =>
      size(filter(tokens, x => x === lit(t))).cast("long")): _*)
    val df = corpus().select("doc_id", "text").union(adversarial)
      .select(
        VectorExpressions.termFrequencies(col("text"), terms).as("tc"),
        size(tokens).cast("long").as("exp_dl"),
        expTf.as("exp_tf"))
    val bad = df.where(col("tc.dl") =!= col("exp_dl") || col("tc.tf") =!= col("exp_tf"))
    assert(bad.count() === 0, bad.collect().take(3).mkString("\n"))
  }

  test("TokenEntropyStats == the explode+groupBy sufficient statistics, adversarial strings included") {
    val s = spark
    import s.implicits._
    val adversarial = Seq(
      (1L, ""), (2L, " "), (3L, "a  a"), (4L, "x x x x"),
      (5L, "héllo héllo wörld"), (6L, "one"), (7L, "a b c d e f g"))
      .toDF("doc_id", "text")
    val rows = corpus().select("doc_id", "text").union(adversarial)
      .select(col("doc_id"), col("text"),
        VectorExpressions.tokenEntropyStats(col("text")).as("st"))
      .collect()
    rows.foreach { r =>
      val toks = r.getString(1).split(" ", -1)
      val counts = toks.groupBy(identity).map(_._2.length.toLong)
      val expS = counts.filter(_ > 1).map(c => c.toDouble * math.log(c.toDouble)).sum
      val st = r.getStruct(2)
      assert(st.getLong(0) === toks.length.toLong, s"n_tokens for '${r.getString(1)}'")
      assert(st.getLong(1) === counts.size.toLong, s"n_distinct for '${r.getString(1)}'")
      // independent summation order — agreement must be well inside the
      // 6 dp rounding step the caller applies
      assert(math.abs(st.getDouble(2) - expS) < 1e-9,
        s"s for '${r.getString(1)}': ${st.getDouble(2)} vs $expS")
    }
  }

  test("GopherStats == an independent whitespace-run recompute, adversarial strings included") {
    val s = spark
    import s.implicits._
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val adversarial = Seq(
      (1L, ""), (2L, "   "), (3L, "a  a"), (4L, "the fox\nwith the\thaste\r\nnow"),
      (5L, "..."), (6L, "....."), (7L, "..........."), (8L, "…… . .. ...."),
      (9L, "• bullet\n- dash\n* star\nplain\n"),
      (10L, "ends...\nends…\nmid...dle\nshort\n.."),
      (11L, "The THE tHe of OF"), (12L, "#tag ## x#y"),
      (13L, "héllo wörld straße 😀 the"), (14L, "list\n- item fused\nacross"),
      (15L, "word\n"), (16L, "\n\n"))
      .toDF("doc_id", "text")
    def countNonOverlap(text: String, pat: String): Long = {
      var i = 0; var c = 0L
      while ({ i = text.indexOf(pat, i); i >= 0 }) { c += 1; i += pat.length }
      c
    }
    val rows = corpus().select("doc_id", "text").union(adversarial)
      .select(col("doc_id"), col("text"),
        VectorExpressions.gopherStats(col("text"), stops).as("g"))
      .collect()
    rows.foreach { r =>
      val text = r.getString(1)
      val words = text.split("[ \t\n\r]", -1).filter(_.nonEmpty)
      val lines = text.split("\n", -1)
      val g = r.getStruct(2)
      def chk(idx: Int, exp: Long, what: String) =
        assert(g.getLong(idx) === exp, s"$what for '${text.take(60)}'")
      chk(0, words.length.toLong, "n_words")
      chk(1, words.map(w => w.codePointCount(0, w.length).toLong).sum, "word_chars")
      chk(2, words.count(_.exists(c =>
        (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z'))).toLong, "n_alpha_words")
      chk(3, stops.count(sw => words.exists(_.toLowerCase == sw)).toLong, "n_stop_distinct")
      chk(4, lines.length.toLong, "n_lines")
      chk(5, lines.count(l => l.nonEmpty && "-*•".contains(l.head)).toLong, "n_bullet_lines")
      chk(6, lines.count(l => l.endsWith("...") || l.endsWith("…")).toLong, "n_ell_end_lines")
      chk(7, text.count(_ == '#').toLong, "n_hash")
      chk(8, countNonOverlap(text, "...") + text.count(_ == '…').toLong, "n_ellipsis")
    }
  }

  test("PqAdcScore == cosine(query, reconstruction) on hand-packed codes") {
    val s = spark
    import s.implicits._
    // m=2 subspaces × k=2 codes × sub=2 dims (dim=4)
    val books = Array(
      Array(Array(1.0, 0.0), Array(3.0, 4.0)), // ‖·‖² = 1, 25
      Array(Array(0.0, 2.0), Array(1.0, 1.0))) // ‖·‖² = 4, 2
    val normLut = books.map(_.map(cb => cb.map(x => x * x).sum))
    val q = Array(1.0, 2.0, 3.0, 4.0)
    val qNorm = math.sqrt(q.map(x => x * x).sum)
    // driver-built LUT, exactly the probe's layout: dot(q_j, book_j[c]) / ‖q‖
    val lut = (for (j <- 0 to 1; c <- 0 to 1) yield
      (q(j * 2) * books(j)(c)(0) + q(j * 2 + 1) * books(j)(c)(1)) / qNorm).toArray
    // codes (c0=1, c1=0) packed 4-bit little-endian = 0x01; recon = (3,4,0,2)
    val recon = Array(3.0, 4.0, 0.0, 2.0)
    val expected = q.zip(recon).map { case (a, b) => a * b }.sum /
      (qNorm * math.sqrt(recon.map(x => x * x).sum))
    val got = Seq((1L, lut.toSeq)).toDF("code", "dot_lut")
      .select(VectorExpressions.pqAdcScore(col("code"), col("dot_lut"), normLut, 4))
      .collect().head.getDouble(0)
    assert(math.abs(got - expected) < 1e-12, s"adc $got vs cosine-of-recon $expected")
    // a zero reconstruction scores 0.0, never NaN
    val zBooks = Array(Array(Array(0.0, 0.0)), Array(Array(0.0, 0.0)))
    val zNorm = zBooks.map(_.map(cb => cb.map(x => x * x).sum))
    val z = Seq((0L, Seq(0.0, 0.0))).toDF("code", "dot_lut")
      .select(VectorExpressions.pqAdcScore(col("code"), col("dot_lut"), zNorm, 4))
      .collect().head.getDouble(0)
    assert(z === 0.0)
  }

  test("NgramCounts == per-doc grouped explode counts, first-occurrence distinct, n=1..3") {
    val s = spark
    import s.implicits._
    val adversarial = Seq(
      (1L, ""), (2L, " "), (3L, "a  a"), (4L, "x y x y x"),
      (5L, "one"), (6L, "héllo wörld héllo wörld"))
      .toDF("doc_id", "text")
    val docs = corpus().select("doc_id", "text").union(adversarial)
    for (n <- 1 to 3) {
      val rows = docs.select(col("doc_id"), col("text"),
        VectorExpressions.ngramCounts(col("text"), n).as("g")).collect()
      rows.foreach { r =>
        val toks = r.getString(1).split(" ", -1)
        val grams = toks.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
        val exp = grams.distinct.map(g => g -> grams.count(_ == g).toLong)
        val got = r.getSeq[org.apache.spark.sql.Row](2)
          .map(x => x.getString(0) -> x.getLong(1))
        assert(got === exp, s"n=$n for '${r.getString(1)}'")
      }
    }
  }

  test("NgramMultiCounts == NgramCounts per order, orders ascending, one pass (r19 LM-family kernel)") {
    val s = spark
    import s.implicits._
    val adversarial = Seq(
      (1L, ""), (2L, " "), (3L, "a  a"), (4L, "x y x y x"),
      (5L, "one"), (6L, "héllo wörld héllo wörld"))
      .toDF("doc_id", "text")
    val docs = corpus().select("doc_id", "text").union(adversarial)
    val rows = docs.select(col("doc_id"), col("text"),
      VectorExpressions.ngramMultiCounts(col("text"), 3).as("m"),
      VectorExpressions.ngramCounts(col("text"), 1).as("g1"),
      VectorExpressions.ngramCounts(col("text"), 2).as("g2"),
      VectorExpressions.ngramCounts(col("text"), 3).as("g3")).collect()
    rows.foreach { r =>
      val multi = r.getSeq[org.apache.spark.sql.Row](2)
        .map(x => (x.getInt(0), x.getString(1), x.getLong(2)))
      assert(multi.map(_._1) === multi.map(_._1).sorted,
        s"orders not ascending for '${r.getString(1)}'")
      for (n <- 1 to 3) {
        val exp = r.getSeq[org.apache.spark.sql.Row](2 + n)
          .map(x => (x.getString(0), x.getLong(1)))
        val got = multi.filter(_._1 == n).map(x => (x._2, x._3))
        assert(got === exp, s"n=$n for '${r.getString(1)}'")
      }
    }
  }

  test("TokenHashes == the per-token transform lambdas, duplicates kept") {
    val tokens = split(col("text"), " ")
    val df = corpus().select(
      VectorExpressions.tokenHashes(col("text")).as("got_md5"),
      transform(tokens, t => conv(substring(md5(t), 1, 15), 16, 10).cast("long")).as("e_md5"))
    val bad = df.where(col("got_md5") =!= col("e_md5"))
    assert(bad.count() === 0, bad.collect().take(2).mkString("\n"))
  }

  test("ArrayAgreeCount == the zip_with+aggregate fold it replaces") {
    val coefs = Dedup.minhashCoefs(16)
    val hashed = transform(builtinShingles(col("text"), 3),
      s => xxhash64(s).bitwiseAND(lit(0xFFFFFFL)))
    val sig = VectorExpressions.minhashFamily(hashed, coefs, Dedup.MinhashP)
    // compare a signature against a shifted variant of itself so agreement
    // is nontrivial (some positions equal, some not)
    val other = VectorExpressions.minhashFamily(
      transform(hashed, h => (h + lit(1L)) % lit(0x1000000L)), coefs, Dedup.MinhashP)
    val df = corpus().select(
      VectorExpressions.agreeCount(sig, other).as("got"),
      aggregate(zip_with(sig, other, (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L), (acc, v) => acc + v).as("expected"),
      VectorExpressions.agreeCount(sig, sig).as("self"))
    val bad = df.where(col("got") =!= col("expected") || col("self") =!= 16L)
    assert(bad.count() === 0, bad.collect().take(2).mkString("\n"))
  }

  test("every string kernel rejects a non-string input with a message naming it") {
    import graft.functions._
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure
    import org.apache.spark.sql.catalyst.expressions.Literal
    val notText = Literal(1)
    Seq(
      "token_hashes" -> TokenHashes(notText),
      "stopword_hits" -> StopwordHits(notText, Seq(Seq("the"))),
      "token_counts" -> TokenCounts(notText),
      "term_frequencies" -> TermFrequencies(notText, Seq("a")),
      "token_entropy_stats" -> TokenEntropyStats(notText),
      "ngram_counts" -> NgramCounts(notText, 2),
      "ngram_multi_counts" -> NgramMultiCounts(notText, 2),
      "gopher_stats" -> GopherStats(notText, Seq("the")),
      "shingle_hashes" -> ShingleHashes(notText, 3),
      "positional_shingle_hashes" -> PositionalShingleHashes(notText, 3),
      "deflated_size" -> DeflatedSize(notText, 6)).foreach { case (name, e) =>
      e.checkInputDataTypes() match {
        case TypeCheckFailure(msg) => assert(msg === s"$name expects string, got IntegerType")
        case other => fail(s"$name accepted an int input: $other")
      }
    }
  }

  test("constant-carrying expressions compare structurally (canonicalization works)") {
    // Two independently-built instances over the same constants must be
    // equal, or Catalyst never recognizes identical subplans (CSE, exchange
    // reuse). Array fields would compare by reference and fail this.
    import graft.functions.{HyperplaneSignKeys, MinHashFamily}
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
    val in = BoundReference(0, ArrayType(DoubleType), nullable = true)
    val hin = BoundReference(0, ArrayType(LongType), nullable = true)
    def planes() = Seq(Seq(1.0, 2.0), Seq(3.0, 4.0))
    def coefs() = Seq(5L, 6L)
    assert(HyperplaneSignKeys(in, planes(), 1, 2) === HyperplaneSignKeys(in, planes(), 1, 2))
    assert(HyperplaneSignKeys(in, planes(), 1, 2).hashCode ===
      HyperplaneSignKeys(in, planes(), 1, 2).hashCode)
    assert(MinHashFamily(hin, coefs(), coefs(), 97L) === MinHashFamily(hin, coefs(), coefs(), 97L))
    assert(MinHashFamily(hin, coefs(), coefs(), 97L).hashCode ===
      MinHashFamily(hin, coefs(), coefs(), 97L).hashCode)
  }

  test("BitVoteFingerprint == the per-bit aggregate folds it replaces") {
    val hashed = transform(split(col("text"), " "), t => xxhash64(t))
    val expected = (0 until 64).map { bit =>
      val vote = aggregate(hashed, lit(0L),
        (acc, h) => acc + when(shiftright(h, bit).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << bit)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))
    val df = corpus().select(
      VectorExpressions.bitVote(hashed, 64).as("got"), expected.as("expected"))
    val bad = df.where(col("got") =!= col("expected"))
    assert(bad.count() === 0, bad.collect().take(2).mkString("\n"))
  }
}
