package graft

import graft.ops.{Curation, Dedup, Embeddings}
import org.apache.spark.sql.functions._

/** Behavioral tests for the curation operators (SURVEY.md §2 B14-B19) on
  * planted data: the signals must actually separate the pathological docs
  * they exist to catch from normal text.
  */
class CurationSpec extends SparkSpec {

  /** Write a documents.parquet with the given rows under a temp sf dir. */
  private def docsDir(rows: Seq[(Long, String)]): String = {
    val s = spark
    import s.implicits._
    val dir = tempDir("curation")
    rows.map { case (id, text) => (id, text, "en", s"src${id % 3}", text.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val varied =
    "the quick brown fox jumps over a lazy dog while many other animals watch from the tall grass nearby every day"

  test("repetition metrics flag a degenerate doc and keep varied text") {
    val dir = docsDir(Seq(
      1L -> Seq.fill(30)("spam").mkString(" "), // one token repeated
      2L -> (varied + " " + varied),            // whole-text repetition
      3L -> varied))
    val m = Curation.repetitionMetrics(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(m(1L).getAs[Double]("top_token_frac") === 1.0)
    assert(!m(1L).getAs[Boolean]("keep"))
    assert(m(2L).getAs[Double]("dup_3gram_frac") > 0.4)
    assert(!m(2L).getAs[Boolean]("keep"))
    assert(m(3L).getAs[Boolean]("keep"))
  }

  test("fused ensemble signals == the three-way component join (r19 fusion)") {
    // the fused single-pass ensembleSignals must reproduce the literal
    // composition of the three registered component queries — including a
    // zero-bigram doc's null coverage/cross_entropy — or the blend has
    // silently drifted from what quality_ensemble's scaladoc claims it is
    def ref(dir: String) = {
      val q = graft.ops.TextAnalysis.quality(spark, dir)
        .select(col("doc_id"), col("quality_score"))
      val c = graft.ops.Relevance.bigramCoverage(spark, dir)
        .select(col("doc_id"), col("coverage"))
      val p = graft.ops.Relevance.lmPerplexity(spark, dir)
        .select(col("doc_id"), col("cross_entropy"))
      q.join(c, Seq("doc_id")).join(p, Seq("doc_id"))
    }
    for (dir <- Seq(sf0001,
      docsDir(Seq(1L -> varied, 2L -> "single", 3L -> (varied + " " + varied))))) {
      val got = Curation.ensembleSignals(spark, dir).collect()
        .map(r => r.getLong(0) -> r.toSeq).toMap
      val exp = ref(dir).collect().map(r => r.getLong(0) -> r.toSeq).toMap
      assert(got === exp, s"fused signals diverged on $dir")
      graft.Caches.clear(spark)
    }
  }

  test("boilerplate ngrams find the shared template; fraction flags the template-only doc") {
    val template = "all rights reserved contact site admin"
    // 5 docs carry the template + fully doc-unique tails; doc 99 is pure template.
    val dir = docsDir(
      (1L to 5L).map(i => i -> (s"$template " + (1 to 15).map(j => s"w${i}x$j").mkString(" "))) :+
        (99L -> template))
    val ngrams = Curation.boilerplateNgrams(spark, dir, shingleK = 3, minDocs = 5).collect()
    assert(ngrams.nonEmpty, "shared template 3-grams must reach the minDocs threshold")
    assert(ngrams.forall(_.getAs[Long]("n_docs") >= 5))
    val frac = Curation.boilerplateFraction(spark, dir, shingleK = 3, minDocs = 5)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(frac(99L).getAs[Double]("boiler_frac") === 1.0)
    assert(!frac(99L).getAs[Boolean]("keep"))
    assert(frac(3L).getAs[Double]("boiler_frac") < 0.5)
  }

  test("stratified sample keeps every doc of the smallest class and is deterministic") {
    val s = spark
    import s.implicits._
    val dir = tempDir("strat")
    val rows = (1L to 40L).map(i => (i, varied, if (i <= 36) "en" else "fr", "src0", varied.length))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = Curation.stratifiedSample(spark, dir).collect()
    val byLang = kept.groupBy(_.getAs[String]("lang")).view.mapValues(_.length).toMap
    // smallest class: u * 4 < 4 * 2^24 always holds — all 4 fr docs survive
    assert(byLang("fr") === 4)
    assert(byLang.getOrElse("en", 0) < 36, "majority class must be downsampled")
    val again = Curation.stratifiedSample(spark, dir).collect()
    assert(kept.map(_.getAs[Long]("doc_id")).toSet === again.map(_.getAs[Long]("doc_id")).toSet)
  }

  test("temperature sample keeps the smallest class whole and flattens the largest toward sqrt") {
    val s = spark
    import s.implicits._
    val dir = tempDir("tempsample")
    val rows = (1L to 40L).map(i => (i, varied, if (i <= 36) "en" else "fr", "src0", varied.length))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = Curation.temperatureSample(spark, dir).collect()
    val byLang = kept.groupBy(_.getAs[String]("lang")).view.mapValues(_.length).toMap
    assert(byLang("fr") === 4, "smallest class keeps 100%")
    // expected en keep = sqrt(4 * 36) = 12; the 24-bit hash realizes a count near it
    val en = byLang.getOrElse("en", 0)
    assert(en < 36 && en > 4, s"largest class must flatten toward sqrt(min*n)=12, kept $en")
    val again = Curation.temperatureSample(spark, dir).collect()
    assert(kept.map(_.getAs[Long]("doc_id")).toSet === again.map(_.getAs[Long]("doc_id")).toSet)
  }

  test("gopherRules: every rule fires on its crafted offender; the clean doc passes all eight") {
    // 60 words, all alphabetic, contains >= 2 Gopher stopwords, mean word
    // length in [3, 10], no symbols, no bullet/ellipsis lines -> keep
    val clean = (Seq.fill(12)("the quick brown fox with") :+ "").mkString(" ").trim
    val tooShort = "the fox with haste"                       // < 50 words
    val longWords = Seq.fill(60)("incomprehensibilities").mkString(" ") // mean > 10
    val hashy = (Seq.fill(50)("tag #x") :+ "the fox with grass here now").mkString(" ") // '#' ratio > 0.1
    val dotty = (Seq.fill(50)("wait ...") :+ "the fox with grass here now").mkString(" ") // '...' ratio > 0.1
    val bullets = (1 to 60).map(i => s"- item $i of the long with list").mkString("\n") // > 90% bullet lines
    val ellEnds = (1 to 60).map(i => s"item $i of the trailing with thought ...").mkString("\n") // > 30% ellipsis-ended
    val numeric = (Seq.fill(55)("12345 67890") :+ "the with").mkString(" ") // alpha frac < 0.8
    val noStops = Seq.fill(60)("alpha beta gamma delta").mkString(" ")      // < 2 stopwords
    val dir = docsDir(Seq(
      1L -> clean, 2L -> tooShort, 3L -> longWords, 4L -> hashy, 5L -> dotty,
      6L -> bullets, 7L -> ellEnds, 8L -> numeric, 9L -> noStops))
    val got = Curation.gopherRules(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("fail_rules"), r.getAs[Boolean]("keep"))).toMap
    assert(got(1L) === ("", true), s"clean doc must pass: ${got(1L)}")
    def fails(id: Long, rule: String) = {
      val (fr, keep) = got(id)
      assert(!keep && fr.split(",").contains(rule), s"doc $id: expected $rule in '$fr'")
    }
    fails(2L, "word_count")
    fails(3L, "mean_word_len")
    fails(4L, "hash_ratio")
    fails(5L, "ellipsis_ratio")
    fails(6L, "bullet_lines")
    fails(7L, "ellipsis_lines")
    fails(8L, "alpha_words")
    fails(9L, "stopwords")
    // the degenerate-corpus contract: single-line symbol-free docs compute
    // exact ZEROS for the line/symbol statistics, never nulls
    val clean1 = Curation.gopherRules(spark, dir).where(col("doc_id") === 1L).collect().head
    assert(clean1.getAs[Double]("hash_ratio") === 0.0)
    assert(clean1.getAs[Double]("bullet_frac") === 0.0)
    assert(clean1.getAs[Double]("ellipsis_end_frac") === 0.0)
    assert(clean1.getAs[Double]("alpha_frac") === 1.0)
  }

  test("corpus_pipeline gopher stage (r18): composed output == stage-off output ∩ the structural-rule pass set") {
    val structural = Set("word_count", "mean_word_len", "hash_ratio",
      "ellipsis_ratio", "bullet_lines", "ellipsis_lines", "alpha_words")
    val off = Curation.curatedCorpus(spark, sf0001, gopherStages = Nil)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val on = Curation.curatedCorpus(spark, sf0001)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the stage must be EXACTLY the standalone battery's structural rules —
    // same thresholds, same stats (the shared gopherRuleCols definition)
    val pass = Curation.gopherRules(spark, sf0001).collect()
      .filter(r => r.getAs[String]("fail_rules").split(",")
        .filter(_.nonEmpty).forall(f => !structural(f)))
      .map(_.getAs[Long]("doc_id")).toSet
    assert(on === (off & pass),
      s"stage-on must equal stage-off ∩ structural-pass (on=${on.size}, " +
        s"off=${off.size}, pass=${pass.size})")
    assert(on.subsetOf(off))
  }

  test("pseudonymize is a stable 1:1 mapping and strips every digit from props") {
    val out = Curation.pseudonymize(spark, sf0001)
    val mapping = out
      .join(Tables.events(spark, sf0001).select("event_id", "user_id"), Seq("event_id"))
      .select("user_id", "user_pseud").distinct()
    val users = mapping.select("user_id").distinct().count()
    assert(mapping.count() === users, "same user must always get the same pseudonym")
    assert(mapping.select("user_pseud").distinct().count() === users, "no pseudonym collisions")
    assert(out.where(col("props_redacted").rlike("[0-9]")).count() === 0)
  }

  test("int8 quantization round-trips within half a quantization step") {
    val q = Embeddings.quantize(Tables.embeddings(spark, sf0001).limit(100))
      .withColumn("vd", transform(col("embedding"), x => x.cast("double")))
      .withColumn("deq", transform(col("q"), x => x.cast("double") * col("scale")))
    val bad = q.select(col("scale"), explode(arrays_zip(col("vd"), col("deq"))).as("z"))
      .where(abs(col("z.vd") - col("z.deq")) > col("scale") * 0.5 + lit(1e-9))
    assert(bad.count() === 0, "dequantized value must be within half a step of the original")
    val range = q.select(explode(col("q")).as("v"))
      .agg(min("v").as("lo"), max("v").as("hi")).head()
    assert(range.getAs[Byte]("lo") >= -127 && range.getAs[Byte]("hi") <= 127)
  }

  test("dup clusters stay bounded on 1000 identical docs (star guard, fast convergence)") {
    val dir = docsDir((1L to 1000L).map(i => i -> varied))
    val t0 = System.nanoTime()
    val cl = Dedup.dupClusters(spark, dir).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(cl.length === 1000, "every identical doc must be clustered")
    assert(cl.map(_.getAs[Long]("cluster_id")).toSet === Set(1L),
      "one degenerate bucket must collapse to a single cluster around the min id")
    assert(cl.forall(_.getAs[Long]("cluster_size") === 1000L))
    assert(secs < 120, s"degenerate input must stay bounded, took $secs s")
  }

  test("dupClusterSizes histogram replays exactly from the cluster table and conserves the population") {
    val got = Dedup.dupClusterSizes(spark, sf0001).collect()
      .map(r => r.getAs[Long]("cluster_size") ->
        (r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs"))).toMap
    assert(got.nonEmpty, "the corpus must contain near-dup clusters at this SF")
    val clusters = Dedup.dupClusters(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size")))
    val expected = clusters.groupBy(_._1).toSeq
      .map { case (cid, rs) => (cid, rs.head._2, rs.length.toLong) }
    // every cluster's window size agrees with its actual membership count
    expected.foreach { case (cid, sz, n) =>
      assert(sz === n, s"cluster $cid: window size $sz vs member count $n")
    }
    val hist = expected.groupBy(_._2).map { case (sz, cs) =>
      sz -> (cs.length.toLong, cs.map(_._3).sum)
    }
    assert(got === hist, s"histogram mismatch: got $got expected $hist")
    // conservation: histogram docs sum to the clustered population, and
    // n_docs = cluster_size * n_clusters within each bucket
    assert(got.values.map(_._2).sum === clusters.length.toLong)
    got.foreach { case (sz, (nc, nd)) => assert(nd === sz * nc) }
  }

  test("splitLeakage reports a planted cross-split near-dup at its exact shingle overlap; df-capped boilerplate is not leakage") {
    import graft.ops.Corpus
    // discover each candidate id's hash-split so the plant is deterministic
    val probeDir = docsDir((1L to 60L).map(i => i -> s"probe text $i"))
    val splits = Corpus.trainSplit(spark, probeDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val trainIds = splits.collect { case (id, "train") => id }.toSeq.sorted
    val holdIds = splits.collect { case (id, s) if s != "train" => id }.toSeq.sorted
    assert(trainIds.nonEmpty && holdIds.nonEmpty, s"probe split degenerate: $splits")
    val (tid, hid) = (trainIds.head, holdIds.head)
    val leaked = (1 to 12).map(i => s"leak$i").mkString(" ") // 12 tokens = 5 distinct 8-grams
    val boiler = (1 to 9).map(i => s"boiler$i").mkString(" ") // 9 tokens = 2 8-grams, everywhere
    val filler = (id: Long) => (1 to 20).map(i => s"u${id}w$i").mkString(" ")
    val dir = docsDir(
      Seq(tid -> s"$leaked ${filler(tid)} $boiler",
          hid -> s"$leaked ${filler(hid)} $boiler") ++
        (trainIds.tail ++ holdIds.tail).map(id => id -> s"${filler(id)} $boiler"))
    // maxDf=5: the boilerplate tail (in every doc) is capped out; the leak
    // (df=2) survives. minOverlap=3 < 5 shared leak-grams.
    val got = Corpus.splitLeakage(spark, dir, minOverlap = 3, maxDf = 5).collect()
    assert(got.length === 1, s"exactly the planted pair: ${got.toSeq}")
    val r = got.head
    assert(r.getAs[Long]("train_id") === tid)
    assert(r.getAs[Long]("holdout_id") === hid)
    assert(r.getAs[String]("holdout_split") === splits(hid))
    // the 12 shared leading tokens contribute exactly 12-8+1=5 shingles;
    // the junction 8-grams differ (filler is id-unique) and boiler is capped
    assert(r.getAs[Long]("n_shared") === 5L, s"overlap count: ${r.getAs[Long]("n_shared")}")
    // sanity on real data: the registered query returns leakage pairs whose
    // sides really do sit in different splits
    val real = Corpus.splitLeakage(spark, "/root/testdata/sf0.01").collect()
    val realSplits = Corpus.trainSplit(spark, "/root/testdata/sf0.01").collect()
      .map(r2 => r2.getAs[Long]("doc_id") -> r2.getAs[String]("split")).toMap
    real.foreach { p =>
      assert(realSplits(p.getAs[Long]("train_id")) === "train")
      assert(realSplits(p.getAs[Long]("holdout_id")) === p.getAs[String]("holdout_split"))
      assert(p.getAs[String]("holdout_split") !== "train")
      assert(p.getAs[Long]("n_shared") >= 3L)
    }
  }

  test("tokenBudgetMix admits a greedy hash-order prefix per language") {
    val dir = docsDir(Seq(
      1L -> Seq.fill(10)("alpha beta").mkString(" "),   // 20 tokens
      2L -> Seq.fill(10)("gamma delta").mkString(" "),  // 20 tokens
      3L -> Seq.fill(10)("epsi zeta").mkString(" ")))   // 20 tokens
    // each doc is 20 tokens; whatever the (deterministic) hash order is:
    // budget 30 admits exactly 2 docs (0 < 30, 20 < 30, 40 >= 30),
    // budget 1 admits exactly the first, budget 100 admits all three
    assert(Curation.tokenBudgetMix(spark, dir, perLangTokens = 30).count() === 2)
    assert(Curation.tokenBudgetMix(spark, dir, perLangTokens = 1).count() === 1)
    assert(Curation.tokenBudgetMix(spark, dir, perLangTokens = 100).count() === 3)
    // admission is by SMALLEST hash first: rerunning with a bigger budget
    // only ever ADDS docs (prefix property)
    val k30 = Curation.tokenBudgetMix(spark, dir, perLangTokens = 30)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val k1 = Curation.tokenBudgetMix(spark, dir, perLangTokens = 1)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(k1.subsetOf(k30))
  }

  test("sourceCapSample keeps the cap lowest-hash docs per source, shard-count invariant") {
    // docsDir assigns source = src{id % 3}: 30 docs -> 3 sources x 10 docs
    val dir = docsDir((1L to 30L).map(i => i -> varied))
    val kept = Curation.sourceCapSample(spark, dir, cap = 4).collect()
    val bySrc = kept.groupBy(_.getAs[String]("source"))
    assert(bySrc.size === 3)
    assert(bySrc.values.forall(_.length === 4), "every source capped at exactly 4")
    bySrc.values.foreach { g =>
      assert(g.map(_.getAs[Long]("rank_in_source")).sorted.toSeq === Seq(1L, 2L, 3L, 4L),
        "two-level ranks are dense 1..cap within each source")
    }
    // independently recompute the expected winners: 4 lowest (u, doc_id)
    // per source under the same content-free hash
    val hashes = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"),
        conv(substring(md5(concat(lit("cap:"), col("doc_id").cast("string"))), 1, 6), 16, 10)
          .cast("long").as("u"))
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("u"), r.getAs[Long]("doc_id")))
    val expect = hashes.groupBy(_._1).toSeq.flatMap { case (_, g) =>
      g.sortBy(t => (t._2, t._3)).take(4).map(_._3)
    }.toSet
    assert(kept.map(_.getAs[Long]("doc_id")).toSet === expect)
    // the sharded rank is the single-window rank for ANY shard count
    val k2 = Curation.sourceCapSample(spark, dir, cap = 4, shardBits = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rank_in_source")).toMap
    assert(k2 === kept.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rank_in_source")).toMap)
  }

  test("qualityEnsemble: z-scores center, null signals drop out, agreement ranks high") {
    val rows = Curation.qualityEnsemble(spark, sf0001).collect()
    val full = rows.filter(_.getAs[Long]("n_signals") == 3L)
    assert(full.nonEmpty, "multi-token docs carry all three signals")
    rows.foreach { r =>
      val expected = 1L +
        (if (r.isNullAt(r.fieldIndex("coverage"))) 0L else 1L) +
        (if (r.isNullAt(r.fieldIndex("cross_entropy"))) 0L else 1L)
      assert(r.getAs[Long]("n_signals") === expected, s"doc ${r.getLong(0)} signal count")
    }
    // z-normalization centers each signal: the mean ensemble over docs with
    // ALL signals present is near zero (not exactly — the per-doc mean of
    // three centered signals is centered, rounding aside)
    val meanFull = full.map(_.getAs[Double]("ensemble")).sum / full.length
    assert(math.abs(meanFull) < 0.05, s"ensemble mean drifted: $meanFull")
    // agreement ranks: a doc at the top of the ensemble is above the
    // corpus median on at least two raw signals
    val top = rows.filter(_.getAs[Long]("n_signals") == 3L)
      .maxBy(_.getAs[Double]("ensemble"))
    val med = {
      val qs = full.map(_.getAs[Double]("quality_score")).sorted
      qs(qs.length / 2)
    }
    assert(top.getAs[Double]("quality_score") >= med,
      "the ensemble top doc is not below the quality median")
  }

  test("prioritySample matches a local priority-sampling replay and estimates are max(w, tau)") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val k = 10
    // local replay: q = w/u with the same md5-derived u, top-k per source,
    // tau = (k+1)-th priority, est = max(w, tau)
    val rows = Tables.documents(spark, sf0001)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .filter(_._3 > 0)
    def u(id: Long): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"priority:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 6), 16) + 1L).toDouble
    }
    val expected = rows.groupBy(_._2).toSeq.flatMap { case (src, g) =>
      val ranked = g.map { case (id, _, w) => (id, w, w.toDouble / u(id)) }
        .sortBy { case (id, _, q) => (-q, id) }
      val tau = ranked.lift(k).map(_._3)
      ranked.take(k).map { case (id, w, q) =>
        (src, id) -> (r6(q), r6(tau.fold(w.toDouble)(t => math.max(w.toDouble, t))))
      }
    }.toMap
    val got = Curation.prioritySample(spark, sf0001, k = k).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id")) ->
        (r.getAs[Double]("priority"), r.getAs[Double]("est_weight"))).toMap
    assert(got === expected)
    assert(got.nonEmpty)
    // every sampled doc's estimate is >= its own weight (max(w, tau) >= w)
    val weights = rows.map(t => (t._2, t._1) -> t._3).toMap
    got.foreach { case (key, (_, est)) => assert(est >= weights(key).toDouble) }
  }

  test("trainingOrder is a permutation in hash order, round-robin sharded, shard-count invariant") {
    val dir = docsDir((1L to 37L).map(i => i -> varied)) // non-multiple of nShards
    val got = Curation.trainingOrder(spark, dir, nShards = 8).collect()
    // pos is a dense permutation 1..N
    assert(got.map(_.getAs[Long]("pos")).sorted.toSeq === (1L to 37L).toSeq)
    // pos is exactly the global (u, doc_id) rank under the 'shuffle:' hash
    val expectOrder = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        conv(substring(md5(concat(lit("shuffle:"), col("doc_id").cast("string"))), 1, 6), 16, 10)
          .cast("long").as("u"))
      .collect().map(r => (r.getAs[Long]("u"), r.getAs[Long]("doc_id")))
      .sorted.map(_._2).zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    assert(got.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pos")).toMap === expectOrder)
    // round-robin deal: shard = (pos-1) % 8, so sizes differ by at most 1
    assert(got.forall(r => r.getAs[Long]("out_shard") === (r.getAs[Long]("pos") - 1) % 8))
    val sizes = got.groupBy(_.getAs[Long]("out_shard")).values.map(_.length)
    assert(sizes.max - sizes.min <= 1, "round-robin shards are balanced to within 1")
    // the two-level order is the single-sort order for ANY shard count
    val k2 = Curation.trainingOrder(spark, dir, nShards = 8, shardBits = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pos")).toMap
    assert(k2 === got.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pos")).toMap)
  }

  test("two-level rank operators agree with the single-window reference on skewed random data") {
    // 400 docs, 90% in one hot source/lang — the skew shape the two-level
    // machinery exists for. Deterministic seed; reference = the naive
    // single-window formulation over the SAME hash.
    val rng = new scala.util.Random(7)
    val rows = (1L to 400L).map { i =>
      val hot = rng.nextInt(10) != 0
      val src = if (hot) "hot" else s"cold${rng.nextInt(5)}"
      val ntok = 1 + rng.nextInt(9)
      (i, Seq.fill(ntok)("w").mkString(" "), if (hot) "en" else "fr", src)
    }
    val s = spark
    import s.implicits._
    val dir = tempDir("twolevel")
    rows.map { case (id, text, lang, src) => (id, text, lang, src, text.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")

    // sourceCapSample vs single row_number window per source
    val capU = conv(substring(md5(concat(lit("cap:"), col("doc_id").cast("string"))), 1, 6), 16, 10)
      .cast("long")
    val capW = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("u", "doc_id")
    val capRef = docs.select(col("doc_id"), col("source"), capU.as("u"))
      .withColumn("r", row_number().over(capW).cast("long"))
      .where(col("r") <= 7)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("r")).toMap
    val capGot = Curation.sourceCapSample(spark, dir, cap = 7)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rank_in_source")).toMap
    assert(capGot === capRef)

    // tokenBudgetMix vs single running-sum window per lang
    val mixU = conv(substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 6), 16, 10)
      .cast("long")
    val mixW = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("u", "doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val mixRef = docs.select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("ntok"), mixU.as("u"))
      .withColumn("before", coalesce(sum(col("ntok")).over(mixW), lit(0L)))
      .where(col("before") < 300L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("before")).toMap
    val mixGot = Curation.tokenBudgetMix(spark, dir, perLangTokens = 300L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("tok_before")).toMap
    assert(mixGot === mixRef)
  }

  test("clusterKeepBest keeps each cluster's highest-quality member") {
    val base = varied.split(" ")
    def mutate(n: Int) = base.zipWithIndex
      .map { case (w, i) => if (i < n) s"swap$i" else w }.mkString(" ")
    val dir = docsDir(Seq(
      10L -> base.mkString(" "), 11L -> mutate(1), 12L -> mutate(2)))
    val kept = Dedup.clusterKeepBest(spark, dir).collect()
    assert(kept.length === 1, "the near-dup trio forms one cluster")
    val r = kept.head
    assert(r.getAs[Long]("cluster_size") === 3L)
    // independently compute the expected argmax from the quality operator
    val q = graft.ops.TextAnalysis.quality(spark, dir).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Double]("quality_score")).toMap
    val expect = Seq(10L, 11L, 12L).maxBy(id => (q(id), -id))
    assert(r.getAs[Long]("keep_id") === expect)
    assert(r.getAs[Double]("quality_score") === q(expect))
  }

  test("curated corpus is the intersection of every stage's keep set") {
    val piped = Curation.curatedCorpus(spark, sf0001)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val quality = graft.ops.TextAnalysis.quality(spark, sf0001)
      .where(col("quality_score") >= 0.1).select("doc_id").collect().map(_.getLong(0)).toSet
    val rep = Curation.repetitionMetrics(spark, sf0001)
      .where(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    val boiler = Curation.boilerplateFraction(spark, sf0001)
      .where(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    val dedup = graft.ops.Dedup.minhashDedup(Tables.documents(spark, sf0001))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the r18 gopher stage is one more stage in the intersection — its
    // structural-rule pass set per the standalone battery (the stage-level
    // equivalence with gopherRuleCols is pinned by the dedicated test above)
    val structural = Set("word_count", "mean_word_len", "hash_ratio",
      "ellipsis_ratio", "bullet_lines", "ellipsis_lines", "alpha_words")
    val gopher = Curation.gopherRules(spark, sf0001).collect()
      .filter(_.getAs[String]("fail_rules").split(",")
        .filter(_.nonEmpty).forall(f => !structural(f)))
      .map(_.getAs[Long]("doc_id")).toSet
    assert(piped === (quality & rep & boiler & dedup & gopher))
    assert(piped.nonEmpty, "a normal corpus must not be filtered to nothing")
  }

  test("star contraction resolves a 200-node chain in O(log n) rounds") {
    val s = spark
    import s.implicits._
    // worst case for min-label propagation: diameter 199, O(n) rounds there
    val edges = (1L until 200L).map(i => (i, i + 1)).toDF("src", "dst")
    val (labels, rounds) = Dedup.starContraction(edges)
    val l = labels.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("lbl")).toMap
    assert(l.size === 200, "every chain node must be labeled")
    assert(l.values.toSet === Set(1L), "the whole chain is one component rooted at the min id")
    assert(rounds <= 15, s"star contraction must converge in O(log n) rounds on a chain, took $rounds")
  }

  test("iterative rounds release superseded checkpoints (no persistent-RDD accumulation)") {
    val s = spark
    import s.implicits._
    val before = s.sparkContext.getPersistentRDDs.size
    // ~8 contraction rounds on the chain: if per-round checkpoint tracking
    // ever stops finding the LogicalRDD blocks, every round leaks one RDD
    // and this bound breaks
    val edges = (1L until 200L).map(i => (i, i + 1)).toDF("src", "dst")
    Dedup.starContraction(edges)._1.collect()
    val after = s.sparkContext.getPersistentRDDs.size
    assert(after - before <= 2,
      s"expected at most the live final checkpoint to remain, grew $before -> $after")
  }

  test("dup clusters escalate to star contraction past maxIter and agree with propagation") {
    val base = varied.split(" ")
    def mutate(n: Int) = base.zipWithIndex
      .map { case (w, i) => if (i < n) s"swap$i" else w }.mkString(" ")
    val dir = docsDir(Seq(
      10L -> base.mkString(" "), 11L -> mutate(1), 12L -> mutate(2)))
    // localEdgeCap = 0 forces the distributed loop (the default would take
    // the driver-side union-find on a graph this small)
    val viaPropagation = Dedup.dupClusters(spark, dir, localEdgeCap = 0).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"))).toSet
    // maxIter = 0 forces the escalation immediately; the answer must not change
    val viaStars = Dedup.dupClusters(spark, dir, maxIter = 0, localEdgeCap = 0).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"))).toSet
    // the default small-graph path must agree with both distributed paths
    val viaLocal = Dedup.dupClusters(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"))).toSet
    assert(viaStars === viaPropagation)
    assert(viaLocal === viaPropagation)
    assert(viaStars.map(_._2) === Set(10L))
  }

  test("union-find and star contraction agree on randomized graphs (seeded)") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(20260812L)
    for (trial <- 1 to 12) {
      // random sparse graphs across the interesting regimes: forests,
      // chains with shortcuts, dense-ish blobs, isolated pairs
      val n = 2 + rng.nextInt(60)
      val m = 1 + rng.nextInt(2 * n)
      val edges = Seq.fill(m)((rng.nextInt(n).toLong + 1, rng.nextInt(n).toLong + 1))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        val df = edges.toDF("src", "dst")
        val viaStars = graft.ops.Dedup.starContraction(df)._1.collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val viaLocal = graft.ops.Dedup.localUnionFind(s, df).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(viaLocal === viaStars,
          s"trial $trial (n=$n, m=${edges.size}): label maps diverge")
      }
    }
  }

  test("dup clusters are transitive: a~b and b~c land in one cluster") {
    val base = varied.split(" ")
    def mutate(n: Int) = base.zipWithIndex
      .map { case (w, i) => if (i < n) s"swap$i" else w }.mkString(" ")
    val dir = docsDir(Seq(
      10L -> base.mkString(" "),
      11L -> mutate(1),
      12L -> mutate(2),
      50L -> Seq.fill(25)("unrelated different words entirely").mkString(" ")))
    // distributed loop kept under test (default would short-circuit locally)
    val cl = Dedup.dupClusters(spark, dir, localEdgeCap = 0).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(Set(10L, 11L, 12L).subsetOf(cl.keySet), "all three near-dups must be clustered")
    val ids = Set(10L, 11L, 12L).map(id => cl(id).getAs[Long]("cluster_id"))
    assert(ids.size === 1, s"expected one transitive cluster, got $ids")
    assert(cl(10L).getAs[Long]("cluster_size") === 3)
    assert(!cl.contains(50L) || cl(50L).getAs[Long]("cluster_size") === 1)
  }

  test("filter funnel: each loss is attributed to the FIRST failing stage") {
    val clean = (0 until 40).map(i => s"tok$i").mkString(" ") // passes everything
    val dir = docsDir(Seq(
      0L -> clean,
      1L -> clean.replace("tok0", "tokA"),
      2L -> "tiny doc",                               // fails length AND words -> stage 1 only
      3L -> (0 until 12).map(i => s"verylongword$i").mkString(" "), // 100+ chars, <30 words -> stage 2
      4L -> Seq.fill(40)("spam ham").mkString(" ")))  // 80 words, 2 distinct bigrams -> stage 3
    val got = graft.ops.Curation.filterFunnel(spark, dir).collect()
      .map(r => r.getAs[String]("stage") ->
        (r.getAs[Long]("survivors"), r.getAs[Long]("dropped_here"))).toMap
    assert(got === Map(
      "0_all" -> (5L, 0L),
      "1_length" -> (4L, 1L),   // doc 2 (also <30 words, but length claims it)
      "2_min_words" -> (3L, 1L), // doc 3
      "3_repetition" -> (2L, 1L))) // doc 4
  }

  test("curation lineage: independent per-doc fail lists reconcile exactly with the funnel's first-fail attribution") {
    val clean = (0 until 40).map(i => s"tok$i").mkString(" ")
    val dir = docsDir(Seq(
      0L -> clean,
      1L -> clean.replace("tok0", "tokA"),
      2L -> "tiny doc",                               // fails length AND min_words
      3L -> (0 until 12).map(i => s"verylongword$i").mkString(" "),
      4L -> Seq.fill(40)("spam ham").mkString(" ")))
    val lin = graft.ops.Curation.curationLineage(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("fail_stages"), r.getAs[Boolean]("keep"))).toMap
    // lineage is INDEPENDENT flags: doc 2 lists BOTH failures the funnel's
    // first-fail attribution collapses into stage 1
    assert(lin === Map(
      0L -> ("", true), 1L -> ("", true),
      2L -> ("length,min_words", false),
      3L -> ("min_words", false),
      4L -> ("repetition", false)))
    // reconciliation against the funnel: first-failing-stage counts derive
    // from the lineage lists, and survivors equal the keep count
    val fun = graft.ops.Curation.filterFunnel(spark, dir).collect()
      .map(r => r.getAs[String]("stage") ->
        (r.getAs[Long]("survivors"), r.getAs[Long]("dropped_here"))).toMap
    def fails(s: String, st: String) = s.split(",").contains(st)
    val v = lin.values.toSeq
    assert(fun("1_length")._2 === v.count(t => fails(t._1, "length")))
    assert(fun("2_min_words")._2 ===
      v.count(t => !fails(t._1, "length") && fails(t._1, "min_words")))
    assert(fun("3_repetition")._2 === v.count(t =>
      !fails(t._1, "length") && !fails(t._1, "min_words") && fails(t._1, "repetition")))
    assert(fun("3_repetition")._1 === v.count(_._2))
  }

  test("signal agreement: each pair's r equals an independent local Pearson over both-present docs") {
    val sig = graft.ops.Curation
      .qualityEnsemble(spark, sf0001) // carries the three raw signals per doc
      .collect().map(r => (
        Option(r.getAs[java.lang.Double]("quality_score")).map(_.toDouble),
        Option(r.getAs[java.lang.Double]("coverage")).map(_.toDouble),
        Option(r.getAs[java.lang.Double]("cross_entropy")).map(_.toDouble)))
    def pearson(xs: Seq[(Double, Double)]): Option[Double] = {
      val n = xs.length.toDouble
      val (sx, sy) = (xs.map(_._1).sum, xs.map(_._2).sum)
      val sxx = xs.map(t => t._1 * t._1).sum
      val syy = xs.map(t => t._2 * t._2).sum
      val sxy = xs.map(t => t._1 * t._2).sum
      val den2 = (n * sxx - sx * sx) * (n * syy - sy * sy)
      if (den2 > 0) Some((n * sxy - sx * sy) / math.sqrt(den2)) else None
    }
    val expected = Map(
      "quality_score~coverage" -> sig.collect { case (Some(a), Some(b), _) => (a, b) }.toSeq,
      "quality_score~cross_entropy" -> sig.collect { case (Some(a), _, Some(c)) => (a, c) }.toSeq,
      "coverage~cross_entropy" -> sig.collect { case (_, Some(b), Some(c)) => (b, c) }.toSeq)
    val got = graft.ops.Curation.signalAgreement(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getAs[java.lang.Double]("r")).map(_.toDouble)))
    assert(got.map(_._1).sorted.toSeq === expected.keys.toSeq.sorted)
    got.foreach { case (pair, nBoth, r) =>
      val xs = expected(pair)
      assert(nBoth === xs.length.toLong, s"$pair n_both")
      (r, pearson(xs)) match {
        case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-6, s"$pair: $a vs local $b")
        case (None, None) =>
        case (a, b) => fail(s"$pair: r=$a local=$b")
      }
    }
    // every pair is populated at this SF and correlations are sane
    assert(got.forall(_._2 > 100), "both-present populations exist")
    assert(got.forall(_._3.exists(v => v >= -1.0 && v <= 1.0)))
  }

  test("memorization risk: corpus-unique grams score 1, triple-duplicated text scores 0, pair-shared stays rare") {
    def words(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val tri = words("t", 20)   // three byte-identical docs: every 8-gram df=3
    val uniq = words("u", 20)  // corpus-unique: every 8-gram df=1
    val pair = words("p", 20)  // shared by exactly two docs: df=2, still rare
    val dir = docsDir(Seq(1L -> tri, 2L -> tri, 3L -> tri, 4L -> uniq,
      5L -> pair, 6L -> pair))
    val got = graft.ops.Corpus.memorizationRisk(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val nGrams = 20 - 7 // distinct 8-grams of a 20-token no-repeat doc
    Seq(1L, 2L, 3L).foreach { id =>
      assert(got(id) === ((nGrams.toLong, 0L, 0.0)), s"doc $id: df=3 grams are not rare") }
    assert(got(4L) === ((nGrams.toLong, nGrams.toLong, 1.0)), "corpus-unique doc is max risk")
    Seq(5L, 6L).foreach { id =>
      assert(got(id) === ((nGrams.toLong, nGrams.toLong, 1.0)),
        s"doc $id: df=2 <= maxDf stays attributable") }
    // raising nothing: with maxDf=1 the pair stops counting as rare
    val strict = graft.ops.Corpus.memorizationRisk(spark, dir, maxDf = 1L).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(strict(5L) === 0L && strict(4L) === nGrams.toLong)
  }

  test("source quantile norm: within-source percent ranks replay locally; scales align across sources") {
    // docsDir assigns source = src{id % 3}; vary uniq-token ratio per doc so
    // scores differ within each source
    def doc(n: Int, uniq: Int) =
      ((0 until uniq).map(i => s"w$i") ++ Seq.fill(n - uniq)("filler")).mkString(" ")
    val dir = docsDir((1L to 12L).map(i => i -> doc(30, 2 + (i % 7).toInt)))
    val got = graft.ops.TextAnalysis.sourceQuantileNorm(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    assert(got.length === 12)
    got.groupBy(_._2).foreach { case (src, rows) =>
      val n = rows.length
      // local percent_rank replay: ties share (rank-1)/(n-1)
      val sorted = rows.sortBy(_._3)
      val expected = rows.map { r =>
        val below = rows.count(_._3 < r._3)
        r._1 -> BigDecimal(below.toDouble / (n - 1))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
      rows.foreach { r =>
        assert(r._4 === expected(r._1), s"$src doc ${r._1}: ${r._4} != ${expected(r._1)}") }
      assert(sorted.last._4 === 1.0 && sorted.head._4 === 0.0,
        s"$src spans the full [0,1] axis")
    }
  }

  test("source overlap: planted shared shingles produce exact pair counts; the df cap drops universal boilerplate") {
    // docsDir assigns source = src(id % 3); each doc is exactly one 8-gram
    val common = (0 until 8).map(i => s"c$i").mkString(" ")
    val ab = (0 until 8).map(i => s"s$i").mkString(" ")
    val uniq = (0 until 8).map(i => s"u$i").mkString(" ")
    val dir = docsDir(Seq(
      0L -> common, 1L -> common, 2L -> common, // all three sources
      3L -> ab, 4L -> ab,                       // src0 and src1 only
      5L -> uniq))                              // src2 only
    def rows(maxSources: Int) =
      graft.ops.Corpus.sourceOverlap(spark, dir, maxSources = maxSources).collect()
        .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
          (r.getAs[Long]("shared"), r.getAs[Double]("jaccard"))).toMap
    val full = rows(maxSources = 64)
    assert(full === Map(
      ("src0", "src1") -> (2L, 1.0),        // {common, ab} on both sides
      ("src0", "src2") -> (1L, 0.333333),   // common of {common,ab} vs {common,uniq}
      ("src1", "src2") -> (1L, 0.333333)))
    // cap = 2: the 3-source shingle is boilerplate and leaves the universe
    // entirely — sizes AND pairs shrink consistently
    assert(rows(maxSources = 2) === Map(("src0", "src1") -> (1L, 1.0)))
  }

  test("content novelty: a re-crawl scores 0, fresh content 1, partial copies in between") {
    val eight = (0 until 8).map(i => s"x$i").mkString(" ")
    val fresh8 = (0 until 8).map(i => s"y$i").mkString(" ")
    val dir = docsDir(Seq(
      0L -> eight,                  // first occurrence: fully novel
      1L -> eight,                  // exact re-crawl: fully stale
      2L -> (eight + " " + fresh8), // 9 shingles, 1 shared (the exact first window)
      3L -> (0 until 8).map(i => s"z$i").mkString(" "))) // untouched: novel
    val got = graft.ops.Curation.contentNovelty(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_seen_before"), r.getAs[Double]("novelty"))).toMap
    assert(got(0L) === ((1L, 0L, 1.0)))
    assert(got(1L) === ((1L, 1L, 0.0)), "an exact re-crawl is fully stale")
    assert(got(2L) === ((9L, 1L, 0.888889)))
    assert(got(3L) === ((1L, 0L, 1.0)))
  }

  test("heavy hitters under eviction (m=4): the dominant token survives within the MG error bound") {
    // 10 docs x (50 'hot' + 50 unique fillers) = N=1000 tokens, hot=500.
    // With m=4 the undercount bound is N/(m+1)=200, so est(hot) >= 300 while
    // every filler's true count is 1 — 'hot' MUST rank first.
    val dir = docsDir((0 until 10).map { i =>
      i.toLong -> (0 until 50).map(j => s"hot f${i}_$j").mkString(" ")
    })
    val got = graft.ops.Corpus.heavyHitters(spark, dir, m = 4, k = 5).collect()
      .map(r => r.getAs[String]("w") -> r.getAs[Long]("est"))
    assert(got.nonEmpty && got.head._1 === "hot", s"got=${got.toSeq}")
    val estHot = got.head._2
    assert(estHot <= 500L, "Misra-Gries never overcounts")
    assert(estHot >= 300L, s"undercount must stay within N/(m+1)=200: est=$estHot")
    // no filler can report more than its true count of 1
    got.tail.foreach { case (w, est) => assert(est <= 1L, s"$w overcounted: $est") }
  }
}
