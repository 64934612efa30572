package graft

import graft.ops.Corpus
import org.apache.spark.sql.functions._

/** Corpus-preparation operators (SURVEY.md §2 B11-B13). */
class CorpusSpec extends SparkSpec {

  test("train split: every doc assigned, deterministic across runs, fractions near 90/5/5") {
    val split = Corpus.trainSplit(spark, sf0001)
    val total = Tables.documents(spark, sf0001).count()
    assert(split.count() === total)
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet.subsetOf(Set("train", "val", "test")))
    assert(counts("train").toDouble / total > 0.8, s"counts=$counts")
    assert(counts("train").toDouble / total < 0.97, s"counts=$counts")
    // content-free determinism: the same doc lands in the same split again
    val again = Corpus.trainSplit(spark, sf0001).collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val first = split.collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(again === first)
  }

  test("corpus stats cover every doc exactly once") {
    val stats = Corpus.corpusStats(spark, sf0001)
    val total = Tables.documents(spark, sf0001).count()
    assert(stats.agg(sum("n_docs")).collect().head.getLong(0) === total)
    assert(stats.where(col("n_tokens") <= 0 || col("avg_doc_tokens") <= 0).count() === 0)
  }

  test("contamination reports only cross-set pairs that truly share 8-grams") {
    val hits = Corpus.contamination(spark, sf0001, minOverlap = 1).collect()
    hits.foreach { r =>
      assert(r.getAs[Long]("eval_id") % 50 === 0, "eval side must come from the eval sample")
      assert(r.getAs[Long]("corpus_id") % 50 !== 0, "corpus side must not be in the eval sample")
      assert(r.getAs[Long]("n_shared") >= 1)
    }
    // an eval doc always shares all its 8-grams with an exact copy: plant one
    // by comparing a doc against itself via the pair math (sanity: the join
    // is on shingle hashes, so a full-overlap pair would surface) — the
    // blocked exact-Jaccard operator provides the ground truth for overlap
    val plan = Corpus.contamination(spark, sf0001).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"all-pairs join in plan:\n$plan")
  }

  test("contaminationSpans pins planted leaks at their exact token intervals") {
    val s = spark
    import s.implicits._
    val dir = tempDir("contamspans")
    // eval doc 50 holds two phrases; corpus doc 51 embeds both, separated
    // by >8 unique tokens (two spans); corpus doc 52 is leak-free
    val phraseA = (1 to 10).map(i => s"p$i").mkString(" ") // 10 tokens -> 3 matched 8-gram starts
    val phraseB = (1 to 9).map(i => s"q$i").mkString(" ")  //  9 tokens -> 2 matched starts
    val evalDoc = s"${(1 to 8).map(i => s"e$i").mkString(" ")} $phraseA ${(1 to 8).map(i => s"f$i").mkString(" ")} $phraseB"
    val corpusDoc = s"${(1 to 12).map(i => s"x$i").mkString(" ")} $phraseA ${(1 to 20).map(i => s"y$i").mkString(" ")} $phraseB ${(1 to 5).map(i => s"z$i").mkString(" ")}"
    Seq((50L, evalDoc), (51L, corpusDoc),
      (52L, (1 to 40).map(i => s"c$i").mkString(" ")))
      .map { case (id, t) => (id, t, "en", "s", t.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Corpus.contaminationSpans(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("span_len"), r.getAs[Long]("n_grams")))
    // phrase A occupies corpus positions 13..22; B occupies 43..51
    assert(got.toSeq.sorted === Seq((51L, 13L, 22L, 10L, 3L), (51L, 43L, 51L, 9L, 2L)),
      s"got ${got.toSeq.sorted}")
  }

  test("contaminationSpans is consistent with the pair report on the real corpus") {
    // every (eval, corpus) pair contamination flags at minOverlap=3 shares
    // >=3 full 8-grams, so the span report must locate leaked intervals in
    // that corpus doc (the reverse need not hold: spans exist from 1 gram)
    val flagged = Corpus.contamination(spark, sf0001, minOverlap = 3).collect()
      .map(_.getAs[Long]("corpus_id")).toSet
    val spanDocs = Corpus.contaminationSpans(spark, sf0001).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(flagged.subsetOf(spanDocs),
      s"pair-flagged docs without located spans: ${flagged -- spanDocs}")
  }

  test("decontaminatedSpans removes exactly the planted leaks and keeps the clean context") {
    val s = spark
    import s.implicits._
    val dir = tempDir("decontamspans")
    val phraseA = (1 to 10).map(i => s"p$i").mkString(" ")
    val phraseB = (1 to 9).map(i => s"q$i").mkString(" ")
    val fx = (1 to 12).map(i => s"x$i").mkString(" ")
    val fy = (1 to 20).map(i => s"y$i").mkString(" ")
    val fz = (1 to 5).map(i => s"z$i").mkString(" ")
    Seq(
      (50L, s"${(1 to 8).map(i => s"e$i").mkString(" ")} $phraseA ${(1 to 8).map(i => s"f$i").mkString(" ")} $phraseB"),
      (51L, s"$fx $phraseA $fy $phraseB $fz"),
      (52L, (1 to 40).map(i => s"c$i").mkString(" ")))
      .map { case (id, t) => (id, t, "en", "s", t.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = Corpus.decontaminatedSpans(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!m.contains(50L), "eval rows are not corpus members")
    assert(m(51L).getAs[Long]("n_removed") === 19L, s"both phrases go: ${m(51L)}")
    assert(m(51L).getAs[String]("clean_text") === s"$fx $fy $fz",
      "every clean token survives, in order")
    assert(m(52L).getAs[Long]("n_removed") === 0L)
    assert(m(52L).getAs[String]("clean_text").startsWith("c1 c2"))
  }

  test("the external-benchmark seam: spans and trim against a fixture eval FILE, every corpus doc screened") {
    val s = spark
    import s.implicits._
    val dir = tempDir("contamseam")
    val phrase = (1 to 10).map(i => s"p$i").mkString(" ") // 10 tokens -> 3 matched 8-gram starts
    val fx = (1 to 12).map(i => s"x$i").mkString(" ")
    val fz = (1 to 9).map(i => s"z$i").mkString(" ")
    // doc 50 would be the %-50 eval slice in the REGISTERED query — here it
    // is corpus like everything else and must be screened too
    Seq(
      (50L, s"$fx $phrase $fz"),
      (51L, s"${(1 to 6).map(i => s"w$i").mkString(" ")} $phrase"),
      (52L, (1 to 30).map(i => s"c$i").mkString(" ")))
      .map { case (id, t) => (id, t, "en", "s", t.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the benchmark ships as a FILE, like a real eval set — load and pass
    // it through the seam; the short second row carries no full 8-gram
    Seq((1L, s"benchmark context ${phrase} trailing words here"),
      (2L, "too short"))
      .toDF("eval_id", "text")
      .write.mode("overwrite").parquet(s"$dir/benchmark.parquet")
    val bench = spark.read.parquet(s"$dir/benchmark.parquet")

    val spans = Corpus.contaminationSpansAgainst(spark, dir, bench).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("span_len")))
      .sorted
    // doc 50: phrase at 13..22; doc 51: phrase at 7..16; doc 52 clean
    assert(spans.toSeq === Seq((50L, 13L, 22L, 10L), (51L, 7L, 16L, 10L)),
      s"got ${spans.toSeq}")

    val m = Corpus.decontaminatedSpansAgainst(spark, dir, bench).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(m.keySet === Set(50L, 51L, 52L), "EVERY corpus doc is screened and kept")
    assert(m(50L).getAs[Long]("n_removed") === 10L)
    assert(m(50L).getAs[String]("clean_text") === s"$fx $fz")
    assert(m(51L).getAs[Long]("n_removed") === 10L)
    assert(m(52L).getAs[Long]("n_removed") === 0L)
    // the registered %-50 stand-in and the seam agree where they overlap:
    // tiling (n_removed == sum of span lengths) holds per doc here too
    val tiled = spans.groupBy(_._1).map { case (d, ss) => d -> ss.map(_._4).sum }
    m.foreach { case (d, r) =>
      assert(r.getAs[Long]("n_removed") === tiled.getOrElse(d, 0L))
    }
  }

  test("contaminationSpansAgainst the doc_id % 50 slice equals the registered contaminationSpans") {
    val evalSlice = Tables.documents(spark, sf0001).where(col("doc_id") % 50 === 0)
    val registered = Corpus.contaminationSpans(spark, sf0001).collect().toSeq
    val seam = Corpus.contaminationSpansAgainst(spark, sf0001, evalSlice)
      .where(col("doc_id") % 50 =!= 0).collect().toSeq
    assert(registered.nonEmpty, "the corpus must carry leaks for the comparison to bite")
    assert(seam === registered)
  }

  test("decontaminatedSpansAgainst the doc_id % 50 slice equals the registered decontaminatedSpans") {
    val evalSlice = Tables.documents(spark, sf0001).where(col("doc_id") % 50 === 0)
    val registered = Corpus.decontaminatedSpans(spark, sf0001).collect().toSeq
    val seam = Corpus.decontaminatedSpansAgainst(spark, sf0001, evalSlice)
      .where(col("doc_id") % 50 =!= 0).collect().toSeq
    assert(registered.exists(_.getAs[Long]("n_removed") > 0),
      "the corpus must carry leaks for the comparison to bite")
    assert(seam === registered)
  }

  test("decontaminatedSpans' removal tiles the span report exactly on the real corpus") {
    val spanTotal = Corpus.contaminationSpans(spark, sf0001).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (d, rs) => d -> rs.map(_.getAs[Long]("span_len")).sum }
    val dec = Corpus.decontaminatedSpans(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed")))
    dec.filter(_._2 >= 8).foreach { case (d, _, rem) =>
      assert(rem === spanTotal.getOrElse(d, 0L),
        s"doc $d: removed $rem tokens but the span report totals ${spanTotal.getOrElse(d, 0L)}")
    }
    assert(dec.map(_._3).sum === spanTotal.values.sum,
      "corpus-wide removal equals the report's total leaked footprint")
  }

  test("splitDivergence matches a local smoothed-KL replay over the same hash split") {
    val got = Corpus.splitDivergence(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_tokens_a"), r.getAs[Long]("n_tokens_b"), r.getAs[Double]("kl")))
      .toMap
    assert(got.keySet === Set("train" -> "val", "train" -> "test", "val" -> "train",
      "val" -> "test", "test" -> "train", "test" -> "val"),
      "all six ordered split pairs present")
    // local replay: md5-prefix split, add-1/2 smoothing over the joint vocab
    val md = java.security.MessageDigest.getInstance("MD5")
    def splitOf(id: Long): String = {
      val hex = md.digest(s"split:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(6)
      val u = java.lang.Long.parseLong(hex, 16)
      if (u < (0.9 * (1 << 24)).toLong) "train"
      else if (u < (0.95 * (1 << 24)).toLong) "val" else "test"
    }
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text").collect()
    val counts = scala.collection.mutable.Map.empty[(String, String), Long]
    docs.foreach { r =>
      val s = splitOf(r.getLong(0))
      r.getString(1).split(" ").foreach(w =>
        counts((s, w)) = counts.getOrElse((s, w), 0L) + 1)
    }
    val vocab = counts.keySet.map(_._2)
    val totals = counts.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    def p(s: String, w: String): Double =
      (counts.getOrElse((s, w), 0L) + 0.5) / (totals(s) + 0.5 * vocab.size)
    got.foreach { case ((a, b), (na, nb, kl)) =>
      assert(na === totals(a) && nb === totals(b))
      val want = vocab.toSeq.map(w => p(a, w) * math.log(p(a, w) / p(b, w))).sum
      assert(math.abs(kl - want) < 2e-6, s"KL($a||$b): got $kl want $want")
      assert(kl >= 0.0, "KL divergence is nonnegative")
    }
  }

  test("dsirSelect matches a local importance-weight replay; target split never selected") {
    val k = 50
    val got = Corpus.dsirSelect(spark, sf0001, k = k).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"), r.getAs[Double]("score")))
    assert(got.length === k)
    // independent replay: same md5 split, add-1/2 smoothed unigram target
    // (val) vs raw (whole corpus) log ratio, per-token average, top-k
    val md = java.security.MessageDigest.getInstance("MD5")
    def splitOf(id: Long): String = {
      val hex = md.digest(s"split:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(6)
      val u = java.lang.Long.parseLong(hex, 16)
      if (u < (0.9 * (1 << 24)).toLong) "train"
      else if (u < (0.95 * (1 << 24)).toLong) "val" else "test"
    }
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq, splitOf(r.getLong(0))))
    val raw = scala.collection.mutable.Map.empty[String, Long]
    val tgt = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach { case (_, toks, sp) =>
      toks.foreach { w =>
        raw(w) = raw.getOrElse(w, 0L) + 1
        if (sp == "val") tgt(w) = tgt.getOrElse(w, 0L) + 1
      }
    }
    val (nr, nt, v) = (raw.values.sum.toDouble, tgt.values.sum.toDouble, raw.size.toDouble)
    def lr(w: String): Double =
      math.log(((tgt.getOrElse(w, 0L) + 0.5) / (nt + 0.5 * v)) /
        ((raw(w) + 0.5) / (nr + 0.5 * v)))
    val want = docs.filter(_._3 != "val").map { case (id, toks, _) =>
      (id, toks.length.toLong, toks.map(lr).sum / toks.length)
    }.sortBy { case (id, _, s) => (-s, id) }.take(k)
    assert(got.map(_._1).toSeq === want.map(_._1).toSeq, "same docs in the same order")
    got.zip(want).foreach { case ((_, n1, s1), (_, n2, s2)) =>
      assert(n1 === n2)
      assert(math.abs(s1 - s2) < 2e-6, s"score drift: $s1 vs $s2")
    }
    val valIds = docs.filter(_._3 == "val").map(_._1).toSet
    assert(got.forall(g => !valIds(g._1)), "the target split is never a selection candidate")
  }

  test("sourceLangDrift matches a local chi-square replay including zero-obs cells") {
    val got = Corpus.sourceLangDrift(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_docs"), r.getAs[Double]("chi_square"))).toMap
    val rows = Tables.documents(spark, sf0001).select("source", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val n = rows.length.toDouble
    val langN = rows.groupBy(_._2).view.mapValues(_.length.toDouble).toMap
    rows.groupBy(_._1).foreach { case (src, docs) =>
      val srcN = docs.length.toDouble
      val obs = docs.groupBy(_._2).view.mapValues(_.length.toDouble).toMap
      val chi = langN.map { case (lang, ln) =>
        val exp = srcN * (ln / n)
        val d = obs.getOrElse(lang, 0.0) - exp
        d * d / exp
      }.sum
      val (gn, gchi) = got(src)
      assert(gn === docs.length.toLong)
      assert(math.abs(gchi - chi) < 1e-5, s"$src: got $gchi want $chi")
      assert(gchi >= 0.0)
    }
  }

  test("sourceConcentration matches a local HHI replay and respects its bounds") {
    val r = Corpus.sourceConcentration(spark, sf0001).collect().head
    val vols = Tables.documents(spark, sf0001).select("source", "n_chars").collect()
      .map(x => (x.getString(0), x.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val total = vols.values.sum.toDouble
    val hhi = vols.values.map(v => (v / total) * (v / total)).sum
    assert(r.getAs[Long]("n_sources") === vols.size.toLong)
    assert(math.abs(r.getAs[Double]("hhi") - hhi) < 1e-6)
    assert(math.abs(r.getAs[Double]("effective_sources") - 1.0 / hhi) < 0.01)
    val sorted = vols.values.toSeq.sorted.reverse
    assert(math.abs(r.getAs[Double]("top1_share") - sorted.head / total) < 1e-6)
    assert(math.abs(r.getAs[Double]("topk_share") - sorted.take(5).sum / total) < 1e-6)
    // structural bounds: 1/n <= hhi <= 1, top1 <= topk
    assert(r.getAs[Double]("hhi") >= 1.0 / vols.size - 1e-9 && r.getAs[Double]("hhi") <= 1.0)
    assert(r.getAs[Double]("top1_share") <= r.getAs[Double]("topk_share"))
  }

  test("ngramDiversity matches a local sliding-window replay and orders template vs varied corpora correctly") {
    val s = spark
    import s.implicits._
    // local replay on the real corpus: occurrences and distinct STRINGS
    // (hash collisions are the oracle's own negligible-odds argument)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val got = graft.ops.Corpus.ngramDiversity(spark, sf0001).collect()
      .map(r => r.getAs[Int]("n") ->
        (r.getAs[Long]("total_ngrams"), r.getAs[Long]("distinct_ngrams"))).toMap
    (1 to 4).foreach { n =>
      val grams = docs.map(_.split(" ", -1)).filter(_.length >= n)
        .flatMap(_.sliding(n).map(_.mkString(" ")).toSeq)
      assert(got(n)._1 === grams.length.toLong, s"n=$n occurrences")
      assert(got(n)._2 === grams.distinct.length.toLong, s"n=$n distinct")
    }
    // a one-template corpus shows collapsed 4-gram diversity; a varied one
    // stays high — the read the operator exists for
    def mk(texts: Seq[String]): String = {
      val dir = tempDir("ngd")
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s", 1L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    val template = mk(Seq.fill(40)("click here to claim your free prize now"))
    val varied = mk((0 until 40).map(i => (0 until 8).map(j => s"t${i}w$j").mkString(" ")))
    def div4(dir: String) = graft.ops.Corpus.ngramDiversity(spark, dir).collect()
      .find(_.getAs[Int]("n") === 4).get.getAs[Double]("diversity")
    assert(div4(template) < 0.05, "a one-template corpus collapses")
    assert(div4(varied) === 1.0, "all-unique text maxes the curve")
  }

  test("oovRate matches a local replay against the exact top-16 vocabulary") {
    val got = graft.ops.Corpus.oovRate(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"), r.getAs[Double]("oov_frac"))).toMap
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    val tf = docs.flatMap(_._2.split(" ", -1)).groupBy(identity).view.mapValues(_.length.toLong)
    val vocab = tf.toSeq.sortBy { case (t, c) => (-c, t) }.take(16).map(_._1).toSet
    assert(vocab.size === 16, "the corpus must have more types than the vocab cap")
    var anyOov = false
    docs.foreach { case (id, text) =>
      val toks = text.split(" ", -1)
      val oov = toks.count(!vocab.contains(_)).toLong
      val (n, o, f) = got(id)
      assert(n === toks.length.toLong && o === oov, s"doc $id: ($n,$o) vs (${toks.length},$oov)")
      val exp = BigDecimal(oov.toDouble / toks.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(f === exp)
      anyOov ||= oov > 0
    }
    assert(anyOov, "a 16-type vocab on a ~31-type corpus must leave real OOV mass")
  }

  test("heavy hitters below capacity degrade to exact counts (the registered-oracle condition)") {
    val got = Corpus.heavyHitters(spark, sf0001, m = 256, k = 50).collect()
      .map(r => r.getAs[String]("w") -> r.getAs[Long]("est"))
    val exact = scala.collection.mutable.Map.empty[String, Long]
    Tables.documents(spark, sf0001).select("text").collect().foreach { r =>
      r.getString(0).split(" ").foreach(w => exact(w) = exact.getOrElse(w, 0L) + 1)
    }
    assert(exact.size <= 256, "oracle condition: vocabulary fits the MG capacity")
    val want = exact.toSeq.sortBy { case (w, c) => (-c, w) }.take(50)
    assert(got.toSeq === want, "below capacity the sketch IS the exact top-k")
  }

  test("countMinFreq matches a local sketch replay and never underestimates") {
    // independent replay: build the d x w sketch locally from exact counts
    // (the sketch is linear, so grouped-count construction is identical)
    val exact = scala.collection.mutable.Map.empty[String, Long]
    Tables.documents(spark, sf0001).select("text").collect().foreach { r =>
      r.getString(0).split(" ").filter(_.nonEmpty)
        .foreach(w => exact(w) = exact.getOrElse(w, 0L) + 1)
    }
    def bucket(i: Int, tok: String, w: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i:$tok".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % w
    }
    def replay(d: Int, w: Int): Map[String, Long] = {
      val cells = scala.collection.mutable.Map.empty[(Int, Long), Long]
      for ((tok, n) <- exact; i <- 0 until d)
        cells((i, bucket(i, tok, w))) = cells.getOrElse((i, bucket(i, tok, w)), 0L) + n
      exact.keys.map(tok => tok -> (0 until d).map(i => cells((i, bucket(i, tok, w)))).min).toMap
    }
    for (w <- Seq(8, 256)) {
      val got = Corpus.countMinFreq(spark, sf0001, d = 4, w = w).collect()
        .map(r => (r.getAs[String]("token"),
          r.getAs[Long]("exact_n"), r.getAs[Long]("cm_est"))).toSeq
      val want = replay(4, w)
      assert(got.map(_._1).toSet === exact.keySet)
      got.foreach { case (tok, n, est) =>
        assert(n === exact(tok), s"$tok exact")
        assert(est === want(tok), s"$tok estimate at w=$w")
        assert(est >= n, s"$tok underestimated — impossible for Count-Min")
      }
      if (w == 8)
        assert(got.exists { case (_, n, est) => est > n },
          "w=8 on a ~31-type vocab must force at least one collision")
    }
    // linearity: the instance-built sketch and the grouped-count sketch are
    // the SAME sketch, cell for cell — so the estimates agree exactly
    val inst = Corpus.countMinFreq(spark, sf0001, d = 4, w = 8, fromInstances = true)
      .collect().map(r => r.getAs[String]("token") -> r.getAs[Long]("cm_est")).toMap
    val grp = Corpus.countMinFreq(spark, sf0001, d = 4, w = 8)
      .collect().map(r => r.getAs[String]("token") -> r.getAs[Long]("cm_est")).toMap
    assert(inst === grp, "linearity violated: instance build != grouped build")
  }

  test("clusterSplit: every near-dup pair lands in ONE split; singletons match trainSplit exactly") {
    import graft.ops.Dedup
    val split = Corpus.clusterSplit(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    // structural zero-leakage at the clustering threshold: every pair the
    // registered near-dup machinery emits is same-split by construction
    val pairs = Dedup.minhashPairs(Tables.documents(spark, sf0001)).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.nonEmpty, "the driver corpus plants near-dups")
    pairs.foreach { case (a, b) =>
      assert(split(a) === split(b), s"near-dup pair ($a,$b) split apart")
    }
    // singletons (docs in no cluster) keep trainSplit's exact assignment —
    // adopting the leakage fix reshuffles only the clustered minority
    val clustered = Dedup.dupClusters(spark, sf0001).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val plain = Corpus.trainSplit(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    split.foreach { case (id, s) =>
      if (!clustered.contains(id)) assert(s === plain(id), s"singleton $id moved")
    }
    // every doc assigned exactly once, all three splits present at 90/5/5
    assert(split.size === plain.size)
    assert(split.values.toSet.subsetOf(Set("train", "val", "test")))
    assert(split.values.count(_ == "train") > split.size / 2)
  }

  test("zipfFit matches a local least-squares replay and a template corpus flattens the slope") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def localFit(counts: Seq[Long]): (Long, Double, Double) = {
      val ranked = counts.sorted(Ordering[Long].reverse).zipWithIndex
        .map { case (c, i) => (math.log((i + 1).toDouble), math.log(c.toDouble)) }
      val n = ranked.length.toDouble
      val sx = ranked.map(_._1).sum; val sy = ranked.map(_._2).sum
      val sxy = ranked.map(p => p._1 * p._2).sum
      val sxx = ranked.map(p => p._1 * p._1).sum
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      (ranked.length.toLong, slope, (sy - sx * slope) / n)
    }
    val exact = scala.collection.mutable.Map.empty[String, Long]
    Tables.documents(spark, sf0001).select("text").collect().foreach { r =>
      r.getString(0).split(" ").filter(_.nonEmpty)
        .foreach(w => exact(w) = exact.getOrElse(w, 0L) + 1)
    }
    // ties in cnt make per-token rank assignment order-dependent, but the
    // moment SUMS are tie-invariant: equal counts contribute the same ys
    // over the same rank positions whatever the tiebreak. Compare sums.
    val (n, slope, icept) = localFit(exact.values.toSeq)
    val row = Corpus.zipfFit(spark, sf0001).collect().head
    assert(row.getAs[Long]("n_types") === n)
    assert(math.abs(row.getAs[Double]("zipf_slope") - r6(slope)) <= 1e-6)
    assert(math.abs(row.getAs[Double]("intercept") - r6(icept)) <= 1e-6)
    assert(row.getAs[Double]("zipf_slope") < 0.0, "frequency must decay with rank")
    // a one-token template corpus has a single type: the fit denominator
    // degenerates -> slope is null/NaN-free guard not needed; instead
    // check a flat synthetic corpus yields a slope nearer 0 than the real one
    val s = spark
    import s.implicits._
    val dir = tempDir("zipfflat")
    (0L until 64L).map(i => (i, s"w${i % 16} w${(i + 1) % 16} w${(i + 2) % 16} w${(i + 3) % 16}", "en", "t", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val flat = Corpus.zipfFit(spark, dir).collect().head.getAs[Double]("zipf_slope")
    assert(math.abs(flat) < math.abs(row.getAs[Double]("zipf_slope")),
      s"uniform template corpus ($flat) must be flatter than the driver corpus")
  }

  test("lengthHistogram matches a local bucket replay and shares sum to 1 per language") {
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val got = Corpus.lengthHistogram(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val docs = Tables.documents(spark, sf0001).select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).length.toLong / 16L * 16L))
    val want = docs.groupBy(identity).map { case (k, vs) => k -> vs.length.toLong }
    val langTotals = docs.groupBy(_._1).map { case (l, vs) => l -> vs.length.toLong }
    assert(got.keySet === want.keySet)
    for ((k @ (lang, _), n) <- want) {
      assert(got(k)._1 === n, s"$k count")
      assert(got(k)._2 === r6(n.toDouble / langTotals(lang)), s"$k share")
    }
    // shares within each language must account for every document
    got.groupBy(_._1._1).foreach { case (lang, rows) =>
      assert(rows.values.map(_._1).sum === langTotals(lang), s"$lang docs covered")
    }
    assert(got.keys.map(_._2).toSet.size > 1, "multiple occupied buckets at gate SF")
  }

  test("noveltyCurve matches a local first-contributor replay over the shingle universe") {
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val got = Corpus.noveltyCurve(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    // the hash expression itself is bit-verified by FunctionsSpec and the
    // DuckDB oracle; this replay independently re-derives the ACCOUNTING
    // (first contributor, totals, rate, cumulative) from the raw universe
    val universe = Tables.documents(spark, sf0001)
      .select(col("source"), explode(graft.functions.VectorExpressions
        .shingleHashes(col("text"), 8).getField("hv")).as("h"))
      .distinct().collect().map(r => (r.getString(0), r.getLong(1)))
    val bySource = universe.groupBy(_._1)
    val first = universe.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    val novel = first.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    var cum = 0L
    val want = bySource.keys.toSeq.sorted.map { s =>
      val tot = bySource(s).length.toLong
      val nv = novel.getOrElse(s, 0L)
      cum += nv
      (s, tot, nv, r6(nv.toDouble / tot), cum)
    }
    assert(got.toSeq === want, "per-source novelty accounting must replay exactly")
    assert(got.head._4 === 1.0, "the first source is all-novel by definition")
    assert(got.map(_._3).sum === first.size.toLong, "novel counts partition the universe")
    assert(got.last._5 === first.size.toLong, "the curve saturates at the universe size")
  }
}
