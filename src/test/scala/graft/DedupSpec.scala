package graft

import graft.ops.Dedup
import org.apache.spark.sql.DataFrame

/** Near-dup detection on planted duplicates (SURVEY.md §2 B1-B4). */
class DedupSpec extends SparkSpec {

  /** Corpus with two planted near-dup groups and unrelated docs. */
  private def planted(): DataFrame = {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill every single morning"
    val nearA = base.replace("warm", "cold")                      // 1-token edit of 0
    val b = "spark executes distributed dataframes with catalyst optimizing logical plans into efficient physical stages across many worker nodes"
    val nearB = b.replace("many", "several") + " tonight"          // near-dup of 2
    val others = Seq(
      "completely unrelated text about cooking pasta with garlic butter and fresh basil leaves in a small kitchen",
      "astronomy observations reveal distant galaxies drifting apart as the universe expands at an accelerating rate",
      "financial markets closed higher today led by energy shares and a late rally in technology companies")
    (Seq(base, nearA, b, nearB) ++ others).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("minhash LSH finds exactly the planted near-dup pairs") {
    val pairs = Dedup.minhashPairs(planted(), threshold = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "planted pair (0,1) missed")
    assert(pairs.contains((2L, 3L)), "planted pair (2,3) missed")
    assert(pairs.forall(p => Set((0L, 1L), (2L, 3L)).contains(p)),
      s"false positives: ${pairs -- Set((0L, 1L), (2L, 3L))}")
  }

  test("minhash dedup keeps the first of each dup group and all singletons") {
    val kept = Dedup.minhashDedup(planted(), threshold = 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(0L, 2L, 4L, 5L, 6L), s"kept=$kept")
  }

  test("simhash bands find the 1-token-edit pair") {
    val pairs = Dedup.simhashPairs(planted(), maxHamming = 12)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"pairs=$pairs")
    assert(!pairs.contains((4L, 5L)), "unrelated docs must not collide")
  }

  test("the driver's corpus contains planted near-dups and minhash surfaces them") {
    val pairs = Dedup.minhashPairs(Tables.documents(spark, sf0001), threshold = 0.8)
    assert(pairs.count() > 0, "sf0.001 documents are known to contain near-dups")
  }

  test("minhash candidate generation never degenerates to a cartesian plan") {
    val plan = Dedup.minhashPairs(planted()).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in plan:\n$plan")
  }

  test("bucket guard: 1000 identical docs yield a linear star, not a quadratic clique") {
    val s = spark
    import s.implicits._
    val boiler = (0L until 1000L)
      .map(i => (i, "identical boilerplate text repeated across the whole crawl shard again and again"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(boiler, maxBucket = 64)
    // every band bucket holds all 1000 docs → guard degrades each to a star
    // around doc 0: exactly n-1 edges instead of n(n-1)/2 = 499 500
    assert(pairs.count() === 999L, "expected one star edge per non-representative doc")
    assert(pairs.where($"id_a" =!= 0L).count() === 0L, "star must center on the min doc_id")
    // dedup semantics survive the guard: one survivor
    assert(Dedup.minhashDedup(boiler.withColumn("extra", $"doc_id"), threshold = 0.9).count() === 1L)
  }

  test("bucket guard is a no-op when no bucket exceeds the cap") {
    val base = Dedup.minhashPairs(planted(), threshold = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cap=1 turns every ≥2-doc bucket into a star; planted dup groups are
    // pairs, and a 2-member bucket's star IS its only pair — identical output
    val starred = Dedup.minhashPairs(planted(), threshold = 0.3, maxBucket = 1)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(starred === base)
  }

  test("ngram_jaccard_lsh: LSH candidates + exact verify recover exactly the planted pairs") {
    val pairs = Dedup.ngramJaccardLsh(planted(), minJaccard = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 1L), (2L, 3L)), s"pairs=$pairs")
  }

  test("ngram_jaccard_lsh plan: candidates arrive via keyed joins, never all-pairs") {
    val plan = Dedup.ngramJaccardLsh(planted()).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in plan:\n$plan")
  }

  test("corpusDiff classifies planted exact/near/new docs across snapshot parities") {
    val s = spark
    import s.implicits._
    val a = "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill every single morning"
    val b = "spark executes distributed dataframes with catalyst optimizing logical plans into efficient physical stages across many worker nodes"
    val rows = Seq(
      0L -> a,                            // previous snapshot
      1L -> a,                            // new crawl: byte-identical -> exact_dup
      2L -> b,                            // previous snapshot
      3L -> b.replace("many", "several"), // new crawl: 1-token edit -> near_dup
      4L -> "astronomy observations reveal distant galaxies drifting apart as the universe expands at an accelerating rate",
      5L -> "completely unrelated text about cooking pasta with garlic butter and fresh basil leaves in a small kitchen")
    val dir = tempDir("corpusdiff")
    rows.map { case (id, t) => (id, t, "en", "test", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val got = Dedup.corpusDiff(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(got === Map(1L -> "exact_dup", 3L -> "near_dup", 5L -> "new"),
      s"got $got")
  }

  test("corpusDiff is non-vacuous on the driver corpus and covers exactly the new crawl") {
    val got = Dedup.corpusDiff(spark, sf0001).collect()
    val odd = Tables.documents(spark, sf0001)
      .where(org.apache.spark.sql.functions.col("doc_id") % 2 === 1).count()
    assert(got.length.toLong === odd, "one status row per new-crawl doc")
    // the planted near-dup structure straddles parity at every SF the gate
    // runs (12 near_dup at sf0.01); at sf0.001 at least the statuses must
    // be well-formed and 'new' must dominate
    val statuses = got.map(_.getAs[String]("status")).toSet
    assert(statuses.subsetOf(Set("exact_dup", "near_dup", "new")))
    assert(got.count(_.getAs[String]("status") == "new") > got.length / 2)
  }

  test("dupSpanTrim removes every occurrence of a corpus-repeated 5-gram span, keeps unique text") {
    val s = spark
    import s.implicits._
    val dir = tempDir("spantrim")
    val span = "one two three four five" // the shared duplicated 5-gram
    Seq(
      (1L, s"alpha beta $span gamma delta epsilon zeta"),
      (2L, s"red green blue $span yellow purple orange"),
      (3L, "totally unique words nobody else repeats anywhere here today"),
      (4L, "loop loop loop loop loop loop loop loop loop loop") // self-repeated
    ).map { case (id, t) => (id, t, "en", "s", t.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = Dedup.dupSpanTrim(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // the shared span's 5 tokens vanish from BOTH docs; surroundings survive
    assert(m(1L).getAs[String]("trimmed_text") === "alpha beta gamma delta epsilon zeta")
    assert(m(2L).getAs[String]("trimmed_text") === "red green blue yellow purple orange")
    assert(m(1L).getAs[Long]("n_removed") === 5L)
    // unique text untouched
    assert(m(3L).getAs[Long]("n_removed") === 0L)
    assert(m(3L).getAs[String]("trimmed_text").startsWith("totally unique"))
    // a SELF-repeated gram is corpus-duplicated too: every token covered
    assert(m(4L).getAs[String]("trimmed_text") === "")
    assert(m(4L).getAs[Long]("n_removed") === 10L)
  }

  test("exactSubstr: a planted 73-token shared span (non-multiple of L) is found at its exact length and trimmed from both docs") {
    val s = spark
    import s.implicits._
    val dir = tempDir("exactsubstr")
    // 73 distinct tokens — 73 is not a multiple of L=20, so any fixed-k
    // accounting would round it; the run-chaining must report exactly 73
    val span = (1 to 73).map(i => s"sp$i").mkString(" ")
    val fillA1 = (1 to 30).map(i => s"a$i").mkString(" ")  // span at pos 31
    val fillA2 = (1 to 25).map(i => s"z$i").mkString(" ")
    val fillB1 = (1 to 40).map(i => s"b$i").mkString(" ")  // span at pos 41
    val fillB2 = (1 to 10).map(i => s"y$i").mkString(" ")
    // a 19-token shared run sits BELOW minLen=20: must produce no span
    val sub = (1 to 19).map(i => s"sub$i").mkString(" ")
    Seq(
      (1L, s"$fillA1 $span $fillA2"),
      (2L, s"$fillB1 $span $fillB2"),
      (3L, s"$sub ${(1 to 30).map(i => s"c$i").mkString(" ")}"),
      (4L, s"${(1 to 30).map(i => s"d$i").mkString(" ")} $sub")
    ).map { case (id, t) => (id, t, "en", "s", t.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val spans = Dedup.exactSubstrSpans(spark, dir, minLen = 20).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("span_len"), r.getAs[Long]("n_runs")))
    // exactly one maximal span per sharing doc, at the true 73-token
    // extent, and each is ONE strict consecutive-start run (n_runs = 1)
    assert(spans.toSeq.sorted === Seq((1L, 31L, 103L, 73L, 1L), (2L, 41L, 113L, 73L, 1L)),
      s"got ${spans.toSeq.sorted}")

    val m = Dedup.exactSubstrTrim(spark, dir, minLen = 20).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // both docs lose exactly the 73 span tokens; the unique context survives
    assert(m(1L).getAs[Long]("n_removed") === 73L)
    assert(m(2L).getAs[Long]("n_removed") === 73L)
    assert(m(1L).getAs[String]("trimmed_text") === s"$fillA1 $fillA2")
    assert(m(2L).getAs[String]("trimmed_text") === s"$fillB1 $fillB2")
    // the 19-token shared run is under the length bar on BOTH surfaces
    assert(m(3L).getAs[Long]("n_removed") === 0L)
    assert(m(4L).getAs[Long]("n_removed") === 0L)
  }

  test("exactSubstr: two abutting templated fragments (dup-start gap in (1, minLen)) weld into ONE disjoint coverage span that tiles the trim") {
    val s = spark
    import s.implicits._
    val dir = tempDir("exactsubstr_weld")
    // Fragment X = x1..x20 repeats in doc 2; fragment Y = x6..x20 y1..y5
    // (X's last 15 tokens + 5 new) repeats in doc 3. Doc 1 carries both
    // OVERLAPPED: ... x1..x20 y1..y5 ... — its duplicated 20-gram starts
    // are p (X, partner doc 2) and p+5 (Y, partner doc 3), with NO dup
    // start at p+1..p+4 (those grams cross into unique context on every
    // partner). Start gap 5 ∈ (1, 20): the r14 code emitted two spans
    // whose token coverage overlapped by 15 tokens (the weak mark); the
    // island rule must weld them into ONE [p, p+24] span with n_runs = 2.
    val xs = (1 to 20).map(i => s"x$i")
    val ys = (1 to 5).map(i => s"y$i")
    val fillA = (1 to 30).map(i => s"a$i").mkString(" ") // weld at pos 31
    val fillA2 = (1 to 10).map(i => s"q$i").mkString(" ")
    val fillB = (1 to 12).map(i => s"b$i").mkString(" ") // X in doc2 at pos 13
    val fillC = (1 to 7).map(i => s"c$i").mkString(" ")  // Y in doc3 at pos 8
    Seq(
      (1L, s"$fillA ${(xs ++ ys).mkString(" ")} $fillA2"),
      (2L, s"$fillB ${xs.mkString(" ")} ${(1 to 25).map(i => s"u$i").mkString(" ")}"),
      (3L, s"$fillC ${(xs.drop(5) ++ ys).mkString(" ")} ${(1 to 25).map(i => s"v$i").mkString(" ")}")
    ).map { case (id, t) => (id, t, "en", "s", t.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val spans = Dedup.exactSubstrSpans(spark, dir, minLen = 20).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("span_len"), r.getAs[Long]("n_runs")))
      .sorted
    // doc 1: ONE welded span covering x1..x20 y1..y5 (25 tokens, 2 runs);
    // docs 2/3 each report their single 20-token fragment (1 run)
    assert(spans.toSeq === Seq(
      (1L, 31L, 55L, 25L, 2L),
      (2L, 13L, 32L, 20L, 1L),
      (3L, 8L, 27L, 20L, 1L)), s"got ${spans.toSeq}")
    // disjointness + tiling vs the trim surface on the same fixture
    val m = Dedup.exactSubstrTrim(spark, dir, minLen = 20).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_removed")).toMap
    assert(m(1L) === 25L)
    assert(m(2L) === 20L)
    assert(m(3L) === 20L)
  }

  test("exactSubstrSpans on the corpus: spans are disjoint coverage islands, all >= minLen, consistent with the trim count") {
    val spans = Dedup.exactSubstrSpans(spark, sf0001, minLen = 20).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("span_len")))
    assert(spans.nonEmpty, "the corpus must contain >=20-token repeats at this SF")
    assert(spans.forall { case (_, s, e, l) => l >= 20 && l === e - s + 1 })
    // maximality: per doc, spans are disjoint AND non-adjacent (an
    // adjacent/overlapping pair would have been one longer run)
    spans.groupBy(_._1).foreach { case (doc, ss) =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, _, e1, _), (_, s2, _, _)) =>
          assert(s2 > e1 + 1, s"doc $doc: spans [$e1] and [$s2] should have merged")
        case _ =>
      }
    }
    // coverage consistency vs the trim surface: for docs >= minLen tokens,
    // n_removed equals the total span length (spans tile the removed set)
    val trimmed = Dedup.exactSubstrTrim(spark, sf0001, minLen = 20).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed")))
    val spanTotal = spans.groupBy(_._1).map { case (d, ss) => d -> ss.map(_._4).sum }
    trimmed.filter(_._2 >= 20).foreach { case (d, _, rem) =>
      assert(rem === spanTotal.getOrElse(d, 0L),
        s"doc $d: trim removed $rem but spans total ${spanTotal.getOrElse(d, 0L)}")
    }
  }

  test("CDC chunks tile every document exactly: reassembly is the identity, boundaries content-decided") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf0001)
    val ch = graft.ops.Corpus.cdcChunksOf(docs, k = 3, divisor = 16)
    val reassembled = ch.groupBy("doc_id")
      .agg(
        org.apache.spark.sql.functions.array_join(
          org.apache.spark.sql.functions.transform(
            org.apache.spark.sql.functions.array_sort(
              org.apache.spark.sql.functions.collect_list(
                org.apache.spark.sql.functions.struct(col("chunk_id"), col("chunk_text")))),
            x => x.getField("chunk_text")), " ").as("glued"),
        org.apache.spark.sql.functions.sum(col("n_chunk_tokens")).as("tok_sum"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
    val joined = docs.select(col("doc_id"), col("text")).join(reassembled, "doc_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getAs[String]("glued") === r.getAs[String]("text"),
        s"doc ${r.getAs[Long]("doc_id")}: CDC chunks must reassemble to the original text")
      assert(r.getAs[Long]("tok_sum") === r.getAs[String]("text").split(" ", -1).length.toLong)
    }
    // content-defined means multiple chunks somewhere: the corpus is not one-chunk-per-doc
    assert(joined.map(_.getAs[Long]("n")).max > 1, "divisor=16 must cut real documents")
  }

  test("CDC dedup survives an insertion that defeats fixed-window passage dedup") {
    val s = spark
    import s.implicits._
    val dir = tempDir("cdcshift")
    // two docs share a 64-token tail; doc 2 has ONE extra token inserted
    // after the (distinct) preamble, shifting every fixed window after it
    val tail = (1 to 64).map(i => s"t$i").mkString(" ")
    val d1 = s"${(1 to 8).map(i => s"a$i").mkString(" ")} $tail"
    val d2 = s"${(1 to 8).map(i => s"b$i").mkString(" ")} INSERTED $tail"
    Seq((1L, d1), (2L, d2))
      .map { case (id, t) => (id, t, "en", "s", t.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // fixed 32-token windows: the 1-token shift misaligns every window —
    // zero duplicate passages found
    val fixed = Dedup.passageDedup(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(fixed(1L).getAs[Long]("n_kept") === fixed(1L).getAs[Long]("n_chunks"))
    assert(fixed(2L).getAs[Long]("n_kept") === fixed(2L).getAs[Long]("n_chunks"),
      "fixed windows must NOT find the shifted shared tail (that is the point)")

    // CDC boundaries re-synchronize inside the shared tail: doc 2 loses
    // its duplicated tail chunks
    val cdc = Dedup.cdcPassageDedup(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(cdc(1L).getAs[Long]("n_kept") === cdc(1L).getAs[Long]("n_chunks"),
      "the first occurrence keeps everything")
    assert(cdc(2L).getAs[Long]("n_kept") < cdc(2L).getAs[Long]("n_chunks"),
      s"CDC must refind the shared tail after the insertion: ${cdc(2L)}")
    // and what it kept is exactly doc 2's text minus the duplicated chunks
    assert(cdc(2L).getAs[String]("kept_text").contains("INSERTED"))
    assert(!cdc(2L).getAs[String]("kept_text").endsWith("t64"),
      "the tail's duplicated chunks must be gone from doc 2")
  }

  test("CDC re-synchronization law: across seeded random pairs, boundaries beyond the edit correspond") {
    // Theory: a cut decision at position q reads tokens [q-k+1, q], so for
    // q >= i+k+1 (every window token past an insertion at i) doc2's cuts
    // are doc1's shifted by one — the chunk sequences beyond the first
    // post-edit boundary are IDENTICAL. Pin it on 8 seeded random docs
    // (fixed seeds -> deterministic forever), not just the hand fixture.
    val s = spark
    import s.implicits._
    val rows = (0 until 8).flatMap { seed =>
      val rnd = new scala.util.Random(1000 + seed)
      val vocab = (1 to 60).map(i => s"w${seed}_$i")
      val n = 150 + rnd.nextInt(100)
      val toks = Vector.fill(n)(vocab(rnd.nextInt(vocab.length)))
      val i = 10 + rnd.nextInt(30) // insertion point in the front third
      val edited = (toks.take(i) :+ s"INS$seed") ++ toks.drop(i)
      Seq((seed * 2L, toks.mkString(" ")), (seed * 2L + 1, edited.mkString(" ")))
    }
    val df = rows.toDF("doc_id", "text")
    val ch = graft.ops.Corpus.cdcChunksOf(df, k = 3, divisor = 16).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("chunk_text")))
    val byDoc = ch.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (0 until 8).foreach { seed =>
      val (orig, edit) = (byDoc(seed * 2L), byDoc(seed * 2L + 1))
      val shared = orig & edit
      assert(shared.nonEmpty,
        s"seed $seed: no shared chunk despite a ~${150}+-token common suffix")
      // every shared chunk is a genuine substring of both documents
      val (t1, t2) = (rows(seed * 2)._2, rows(seed * 2 + 1)._2)
      shared.foreach { c =>
        assert(t1.contains(c) && t2.contains(c), s"seed $seed: phantom shared chunk")
      }
    }
  }

  test("b-bit minhash: packed-long estimate equals a component-wise replay; planted dups near 1") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf0001)
    val sigs = Dedup.signatures(docs, numHashes = 32, shingleK = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Seq[Long]]("sig")).toMap
    def estLocal(a: Long, bId: Long): Double = {
      val coll = sigs(a).zip(sigs(bId)).count { case (x, y) => (x & 3) == (y & 3) }
      val rate = coll.toDouble / 32.0
      BigDecimal(math.max((rate - 0.25) / 0.75, 0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = Dedup.minhashBbitPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("est_j_bbit")).toMap
    assert(got.nonEmpty, "vacuous: no b-bit pairs at sf0.001")
    got.foreach { case ((a, b), est) =>
      assert(est === estLocal(a, b), s"pair ($a,$b) packed-long vs replay")
    }
    // identical planted texts share the full signature -> est exactly 1.0
    val exactDups = docs.select(md5(col("text")).as("h"), col("doc_id"))
      .collect().groupBy(_.getString(0)).values.filter(_.length > 1)
      .flatMap(g => { val ids = g.map(_.getLong(1)).sorted; Some((ids(0), ids(1))) })
    exactDups.foreach { case (a, b) =>
      if (got.contains((a, b))) assert(got((a, b)) === 1.0, s"identical pair ($a,$b)")
    }
    assert(got.values.exists(_ == 1.0), "at least one identical pair must estimate 1.0")
  }

  test("bloomNovelty matches the independent exact classification on the driver corpus") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf0001)
    val expected = docs.where(col("doc_id") % 2 === 1)
      .withColumn("th", md5(col("text")))
      .join(docs.where(col("doc_id") % 2 === 0)
        .select(md5(col("text")).as("th")).distinct().withColumn("hit", lit(1)),
        Seq("th"), "left_outer")
      .select(col("doc_id"),
        when(col("hit").isNotNull, "dup_prev").otherwise("new").as("status"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = Dedup.bloomNovelty(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(got === expected)
    assert(got.values.exists(_ == "new"), "vacuous: no new docs")
  }

  test("bloomNovelty plans the bloom screen and survives an empty previous snapshot") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "only odd ids so the previous snapshot is empty", "src"),
      (3L, "every document here must classify as new", "src"))
      .toDF("doc_id", "text", "source")
    val allNew = Dedup.bloomNoveltyOf(docs).collect()
    assert(allNew.length === 2 && allNew.forall(_.getAs[String]("status") === "new"))
    // with a non-empty previous snapshot the probe expression must be in
    // the plan: the definitely-new fast path exists only behind the screen
    val mixed = Seq(
      (0L, "previous snapshot document body", "src"),
      (1L, "previous snapshot document body", "src"),
      (3L, "a genuinely new document body", "src"))
      .toDF("doc_id", "text", "source")
    val m = Dedup.bloomNoveltyOf(mixed).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(m === Map(1L -> "dup_prev", 3L -> "new"))
    // on parquet-backed data (not constant-foldable to a LocalRelation) the
    // probe expression must survive into the physical plan
    val plan = Dedup.bloomNovelty(spark, sf0001).queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), "bloom probe missing from the physical plan")
  }

  test("jaccardPrefixPairs equals the brute-force exact pair set (no false negatives)") {
    import org.apache.spark.sql.functions._
    // Independent semantic replay on the driver corpus: every pair sharing
    // >= 1 shingle, exact-verified — computed WITHOUT the prefix filter.
    val hashed = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        graft.functions.VectorExpressions
          .shingleHashes(col("text"), 5).getField("hv").as("sh"))
      .where(size(col("sh")) > 0)
    val ex = hashed.select(col("doc_id"), explode(col("sh")).as("h"))
    val cands = ex.select(col("doc_id").as("id_a"), col("h"))
      .join(ex.select(col("doc_id").as("id_b"), col("h")), Seq("h"))
      .where(col("id_a") < col("id_b")).select("id_a", "id_b").distinct()
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val union = size(col("sh_a")).cast("double") + size(col("sh_b")).cast("double") - inter
    val expected = cands
      .join(hashed.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(hashed.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), round(inter / union, 6).as("jaccard"))
      .where(col("jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = Dedup.jaccardPrefixPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expected)
    assert(got.nonEmpty, "vacuous: no qualifying pairs at sf0.001")
  }

  test("containmentPrefixPairs: a doc embedded whole inside a longer one is caught one-way") {
    val s = spark
    import s.implicits._
    val inner = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val outer = s"intro words before the quote $inner and a long tail of trailing commentary after it ends"
    val dir = tempDir("containment")
    Seq((1L, inner), (2L, outer),
      (3L, "a completely different document about something else entirely here"))
      .zipWithIndex.map { case ((id, t), _) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val got = Dedup.containmentPrefixPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("containment")).toMap
    assert(got.keySet === Set((1L, 2L)), s"exactly the one-way subset pair: $got")
    assert(got((1L, 2L)) === 1.0, "every inner shingle occurs in the outer doc")
  }

  test("containmentPrefixPairs equals the brute-force exact containment set on the corpus") {
    import org.apache.spark.sql.functions._
    val hashed = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        graft.functions.VectorExpressions
          .shingleHashes(col("text"), 5).getField("hv").as("sh"))
      .where(size(col("sh")) > 0)
    val ex = hashed.select(col("doc_id"), explode(col("sh")).as("h"))
    val cands = ex.select(col("doc_id").as("id_a"), col("h"))
      .join(ex.select(col("doc_id").as("id_b"), col("h")), Seq("h"))
      .where(col("id_a") =!= col("id_b")).select("id_a", "id_b").distinct()
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val expected = cands
      .join(hashed.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(hashed.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), round(inter / size(col("sh_a")).cast("double"), 6).as("c"))
      .where(col("c") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = Dedup.containmentPrefixPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expected)
    assert(got.nonEmpty, "vacuous at sf0.001 — planted dups must contain both ways")
  }

  test("jaccardPrefixPairs prefix is integer-exact at float-hostile thresholds") {
    val s = spark
    import s.implicits._
    // Ten identical 10-shingle docs at t where ceil(t*n) is float-fragile:
    // 0.6 * 10 -> prefix length must be exactly 10 - 6 + 1 = 5, and every
    // pair (45 of them) must surface at jaccard 1.0.
    val body = "a b c d e f g h i j k l m n"
    val dir = tempDir("ppjoin")
    (0L until 10L).map(i => (i, body, "en", "src", body.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val got = Dedup.jaccardPrefixPairs(spark, dir, shingleK = 5, minJaccard = 0.6)
      .collect()
    assert(got.length === 45, s"expected all 45 identical-doc pairs, got ${got.length}")
    assert(got.forall(_.getAs[Double]("jaccard") === 1.0))
  }

  test("lshPrecision counts exactly the registered verify's candidates and acceptances") {
    val r = graft.ops.Dedup.lshPrecision(spark, sf0001).collect().head
    val (cands, acc, prec) = (r.getAs[Long]("candidates"), r.getAs[Long]("accepted"),
      r.getAs[Double]("lsh_precision"))
    // accepted ≡ the registered ngram_jaccard_lsh row count (same bands,
    // same verify, same threshold)
    val registered = Dedup.ngramJaccardLsh(Tables.documents(spark, sf0001)).count()
    assert(acc === registered)
    assert(cands >= acc && cands > 0)
    assert(math.abs(prec - acc.toDouble / cands) < 1e-6)
    assert(prec > 0.0 && prec <= 1.0)
  }

  test("dupPairSpans: a planted shared-prefix/suffix pair yields exactly its two disjoint islands") {
    val s = spark
    import s.implicits._
    // doc0 = A(12) x B(12), doc1 = A(12) y B(12): matched 3-gram starts are
    // 1..10 (inside A) and 14..23 (inside B); the 11..13 starts straddle the
    // differing middle token. Islands: [1,12] and [14,25], gap 4 > k=3.
    val a = (1 to 12).map(i => s"alpha$i").mkString(" ")
    val b = (1 to 12).map(i => s"beta$i").mkString(" ")
    val docs = Seq(
      (0L, s"$a x $b"),
      (1L, s"$a y $b"),
      (2L, "totally different content about unrelated matters entirely separate from both"))
    val dir = tempDir("dedup-pair-spans")
    docs.map { case (id, t) => (id, t, "en", s"src$id", t.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.dupPairSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.map(t => (t._1, t._2)).toSet === Set((0L, 1L)),
      "exactly the planted pair is explained")
    val spans = got.map(t => (t._4, t._5, t._6, t._7)).sortBy(_._1)
    assert(spans.toSeq === Seq((1L, 12L, 12L, 10L), (14L, 25L, 12L, 10L)),
      s"exact islands expected, got $spans")
    // disjoint by construction: ≥1 clean token between consecutive spans
    spans.sliding(2).foreach { case Array(x, y) =>
      assert(y._1 > x._2 + 1, s"overlapping spans: $x then $y")
    }
    // jaccard column matches the registered verify's score for the pair
    val j = Dedup.ngramJaccardLsh(Tables.documents(spark, dir)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.forall(t => j((t._1, t._2)) === t._3))
  }
}
