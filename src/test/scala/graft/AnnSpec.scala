package graft

import graft.ops.Similarity

/** ANN quality + plan shape (SURVEY.md §2 B5, VERDICT r1 next-round #6). */
class AnnSpec extends SparkSpec {

  test("LSH ANN recall@10 >= 0.9 vs brute force on sf0.001") {
    val k = 10
    val brute = Similarity.bruteTopK(spark, sf0001, nQueries = 5, k = k)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(spark, sf0001, nQueries = 5, k = k)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall@$k = $recall")
  }

  test("LSH plan joins on bucket keys — no cartesian / nested-loop join") {
    val plan = Similarity.lshTopK(spark, sf0001).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop in plan:\n$plan")
  }

  test("embedding near-dup finds the same high-cosine pairs as a brute-force sweep") {
    val tau = 0.4
    val lsh = Similarity.embeddingNearDup(spark, sf0001, minCos = tau)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over the small sf0.001 corpus via the existing cosine expr
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf0001)
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val brute = a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", round(Similarity.cosine(col("va"), col("vb")), 6))
      .where(col("cos") >= tau)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "test needs at least one qualifying pair")
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.8, s"near-dup recall $recall (found ${lsh.size} of ${brute.size})")
    assert((lsh -- brute).isEmpty, "LSH must not invent pairs (cosine is verified exactly)")
  }

  test("IVF finds in-cluster neighbors on clustered data with a fraction of the scan") {
    val s = spark
    import s.implicits._
    // planted: 8 well-separated clusters of 40 vectors each (seeded RNG)
    val rng = new scala.util.Random(7)
    val dim = 16
    val centers = Array.fill(8)(Array.fill(dim)(rng.nextGaussian() * 5))
    val rows = for {
      c <- centers.indices; j <- 0 until 40
    } yield ((c * 40 + j).toLong, centers(c).map(x => (x + rng.nextGaussian() * 0.3).toFloat).toSeq)
    val emb = rows.toDF("vec_id", "embedding")
    val ivf = Similarity.ivfTopKOf(emb, nQueries = 4, k = 10, cells = 8, nprobe = 2, dim = dim)
      .collect()
    // every returned neighbor of query q belongs to q's planted cluster
    ivf.foreach { r =>
      val q = r.getLong(0); val n = r.getLong(2)
      assert(q / 40 === n / 40, s"neighbor $n not in query $q's cluster")
    }
    assert(ivf.length === 4 * 10)
  }

  test("persisted IVF index probe answers identically to the inline build") {
    val idx = tempDir("ivfidx")
    Similarity.buildIvfIndex(spark, sf0001, idx)
    val inline = Similarity.ivfTopK(spark, sf0001).collect().map(_.toSeq).toSeq
    val probedDf = Similarity.ivfProbePersisted(spark, sf0001, idx)
    val probed = probedDf.collect().map(_.toSeq).toSeq
    assert(probed === inline)
    // the index stores no second copy of the corpus: assignments are
    // (vec_id, cell) only; centroids are the KB-sized C x dim matrix
    val asg = spark.read.parquet(s"$idx/assignments")
    assert(asg.columns.sorted.toSeq === Seq("cell", "vec_id"))
    val ctr = Similarity.centroidsDF(spark, idx)
    assert(ctr.count() === 16)
    // the probe PRUNES: assignments are laid out one directory per cell and
    // the probed-cell IN literal reaches the scan as a partition filter, so
    // unprobed cells' files are never read
    assert(new java.io.File(s"$idx/assignments").listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("cell=")))
    val plan = probedDf.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cell"),
      s"expected a partition filter on cell in:\n$plan")
  }

  test("semanticContamination is exactly the cross-set slice of near-dup, oriented eval-first") {
    val all = Similarity.embeddingNearDup(spark, sf0001, minCos = 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val got = Similarity.semanticContamination(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("eval_id"), r.getAs[Long]("corpus_id"), r.getAs[Double]("cos")))
    got.foreach { case (e, c, _) =>
      assert(e % 50 === 0, "eval side from the eval sample")
      assert(c % 50 !== 0, "corpus side outside the eval sample")
    }
    val want = all.collect { case (a, b, cs) if (a % 50 == 0) != (b % 50 == 0) =>
      if (a % 50 == 0) (a, b, cs) else (b, a, cs)
    }.toSet
    assert(got.toSet === want)
  }

  test("semanticDedup drops exactly the within-cluster lower-id mates above the threshold") {
    val tau = 0.45
    val got = Similarity.semanticDedup(spark, sf0001, minCos = tau).collect()
    assert(got.length.toLong === Tables.embeddings(spark, sf0001).count(),
      "one verdict row per corpus vector")
    val dropped = got.filter(_.getAs[Long]("kept") == 0L).map(_.getAs[Long]("vec_id")).toSet
    assert(dropped.nonEmpty, "threshold must be non-vacuous at the gate scale")
    // exact semantic replay: the op's own cluster assignment + an exhaustive
    // cosine sweep. dropped must equal {id_b | exists same-cluster id_a <
    // id_b with cos >= tau}; pairs straddling a cluster boundary do NOT
    // drop — that recall trade is SemDeDup's definition, pinned here.
    val cellOf = got.map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf0001)
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val hi = a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", round(Similarity.cosine(col("va"), col("vb")), 6))
      .where(col("cos") >= tau)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val expectedDropped = hi.collect { case (x, y) if cellOf(x) == cellOf(y) => y }.toSet
    assert(dropped === expectedDropped)
    assert(hi.exists { case (x, y) => cellOf(x) != cellOf(y) },
      "corpus should exercise the boundary-straddle branch too")
  }

  test("semanticDedup's corpus-derived cell count equals the explicit-C result at gate SF") {
    // The registered query derives C = max(16, n/1000) (SemDeDup's own
    // C ∝ n configuration); at every gate SF that floors to 16, so the
    // pinned cells=16 oracle replays the identical clustering. This pin is
    // what licenses the fixed-C oracle: if the derivation ever diverged
    // from 16 at sf0.001-0.1, hash-parity would silently break.
    assert(Similarity.semanticCells(500) === 16, "sf0.01 floors to the oracle's C")
    assert(Similarity.semanticCells(2000) === 16, "sf0.1 floors to the oracle's C")
    assert(Similarity.semanticCells(100000) === 100, "crossover scale grows C with n")
    val derived = Similarity.semanticDedup(spark, sf0001).collect()
    val explicit = Similarity.semanticDedup(spark, sf0001, cells = 16).collect()
    assert(derived.map(_.toSeq).toSeq === explicit.map(_.toSeq).toSeq)
  }

  test("ann_recall_report: one row per method with spec-pinned floors (r17, B5f)") {
    val rows = Similarity.annRecallReport(spark, sf0001).collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("ivf", "lsh", "pq", "truncated"),
      "one row per method, method-ordered")
    val recall = rows.map(r => r.getString(0) -> r.getAs[Double]("recall")).toMap
    val byName = rows.map(r => r.getString(0) -> r).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_expected") === 50L, "nQueries*k brute rows")
      assert(r.getAs[Long]("n_hit") <= 50L)
      assert(r.getAs[Double]("recall") >= 0.0 && r.getAs[Double]("recall") <= 1.0)
      assert(r.getAs[Long]("k") === 10L)
    }
    // floors: lsh carries the suite's standing >=0.9 pin (same statistic as
    // the recall@10 test above); ivf's 4-of-16-cell probe and the
    // isotropic-hard truncated prefix get conservative floors — the report
    // exists to WITNESS these numbers in the round artifact, the suite only
    // guards against collapse.
    assert(recall("lsh") >= 0.9, s"lsh recall ${recall("lsh")}")
    assert(recall("ivf") >= 0.5, s"ivf recall ${recall("ivf")}")
    // pq probes the SAME cells as ivf and exact-reranks a 50-candidate ADC
    // head, so its floor must hold at least the ivf row's (VERDICT r17 #3)
    assert(recall("pq") >= 0.5, s"pq recall ${recall("pq")}")
    assert(recall("truncated") >= 0.3, s"truncated recall ${recall("truncated")}")
    // hit counts reconcile with the per-method top-k joins
    assert(byName("lsh").getAs[Long]("n_hit") ===
      math.round(recall("lsh") * 50))
  }

  test("IVF-PQ probe (B5g): exact-cos output contract, deterministic across rebuilds, recall within the probed cells") {
    import org.apache.spark.sql.functions._
    val idx = java.nio.file.Files.createTempDirectory("graft_pq_spec_").toString
    Similarity.buildIvfPqIndex(spark, sf0001, idx)
    val got = Similarity.ivfPqProbePersisted(spark, sf0001, idx).collect()
    assert(got.length === 25, "5 queries x top-5")
    val byQ = got.groupBy(_.getLong(0))
    byQ.foreach { case (qid, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq === (1L to 5L), s"ranks for q$qid")
      // rank order IS exact-cos order (the rerank is exact, not ADC)
      val cos = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b }, s"cos desc for q$qid")
      assert(rows.forall(_.getLong(2) != qid), "self never a neighbor")
    }
    // the exact rerank must reproduce brute-force cosines for the
    // neighbors it returns (same round-6 contract as ivf/lsh)
    val brute = Similarity.bruteTopK(spark, sf0001, 5, 200).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    got.foreach { r =>
      brute.get((r.getLong(0), r.getLong(2))).foreach { exp =>
        assert(r.getDouble(3) === exp, s"cos mismatch vs brute for ${(r.getLong(0), r.getLong(2))}")
      }
    }
    // a second build+probe into the same dir is bit-identical (fixed
    // k-means seeds, shortest-repr sidecars, total tie orders)
    Similarity.buildIvfPqIndex(spark, sf0001, idx)
    val probed = Similarity.ivfPqProbePersisted(spark, sf0001, idx)
    val again = probed.collect()
    assert(got.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
    // the probed-cell IN literal reaches the code-table scan as a
    // partition filter (the B5d pruning contract — unprobed cells' 4-byte
    // code files are never read)
    assert(new java.io.File(s"$idx/assignments").listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("cell=")))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cell"),
      s"expected a partition filter on cell in:\n$plan")
  }

  test("IVF-PQ probe reads the index's current sidecars after another build replaced its files") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_pq_swap_").toString
    val (x, y) = (s"$tmp/x", s"$tmp/y")
    Similarity.buildIvfPqIndex(spark, sf0001, x, cells = 16)
    Similarity.ivfPqProbePersisted(spark, sf0001, x).collect()
    // another process rebuilds the index at x with other cells: y stands
    // in for its build, copied over x's files
    Similarity.buildIvfPqIndex(spark, sf0001, y, cells = 8)
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(x))
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(y), new java.io.File(x))
    def probe(idx: String) =
      Similarity.ivfPqProbePersisted(spark, sf0001, idx).collect().map(_.toSeq).toSeq
    assert(probe(x) === probe(y))
  }

  test("incremental IVF-PQ maintenance (B5h): append is probe-visible, census reconciles, fidelity column is real") {
    import org.apache.spark.sql.functions._
    val idx = java.nio.file.Files.createTempDirectory("graft_incr_spec_").toString
    val emb = Tables.embeddings(spark, sf0001)
    val evens = emb.where(col("vec_id") % 2 === 0)
    val odds = emb.where(col("vec_id") % 2 =!= 0)
    val (nEven, nOdd) = (evens.count(), odds.count())
    Similarity.buildIvfPqIndexOf(evens, idx)
    val s0 = Similarity.ivfIndexStatus(spark, idx).collect()
    assert(s0.map(_.getAs[Long]("n_vecs")).sum === nEven,
      "pre-append census covers exactly the snapshot")
    // append the odd half against the FROZEN centroids/codebooks
    Similarity.ivfIndexAppend(odds, idx)
    val s1 = Similarity.ivfIndexStatus(spark, idx).collect()
    assert(s1.map(_.getAs[Long]("n_vecs")).sum === nEven + nOdd,
      "post-append census conserves the population")
    assert(s1.forall { r =>
      val f = r.getAs[Double]("mean_recon_cos"); f > 0.0 && f <= 1.0
    }, "per-cell fidelity is a real cosine mean")
    // appended vectors are PROBE-VISIBLE through the same partition-pruned
    // scan — the maintained-index contract
    val neigh = Similarity.ivfPqProbePersisted(spark, sf0001, idx).collect()
      .map(_.getLong(2))
    assert(neigh.exists(_ % 2 == 1), "appended (odd) vectors must be retrievable")
    assert(neigh.exists(_ % 2 == 0), "snapshot (even) vectors must still be retrievable")
    // the lifecycle is deterministic end to end (frozen sidecars, fixed
    // seeds): a fresh-JVM-equivalent replay reproduces the census bit-for-bit
    Similarity.buildIvfPqIndexOf(evens, idx)
    Similarity.ivfIndexAppend(odds, idx)
    val s2 = Similarity.ivfIndexStatus(spark, idx).collect()
    assert(s1.map(_.toSeq).toSeq === s2.map(_.toSeq).toSeq)
  }

  test("product quantization (B18c): packed codes round-trip, runs are bit-deterministic, fidelity is real and monotone in k") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf0001)
    val n = emb.count()
    val m = 8
    val got = graft.ops.Embeddings.pqFidelityOf(emb, m = m, k = 8).collect()
    assert(got.length.toLong === n, "one code per corpus vector")
    got.foreach { r =>
      val code = r.getAs[Long]("pq_code")
      // every 4-bit field must hold a valid centroid index < k=8
      (0 until m).foreach { j =>
        val c = (code >> (4 * j)) & 15L
        assert(c < 8L, s"subspace $j code $c out of range in ${code.toBinaryString}")
      }
      val cos = r.getAs[Double]("recon_cos")
      assert(cos >= -1.0 - 1e-9 && cos <= 1.0 + 1e-9)
    }
    // deterministic end to end: independent learns + encodes, identical bits
    val again = graft.ops.Embeddings.pqFidelityOf(emb, m = m, k = 8).collect()
    assert(got.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
    def meanCos(k: Int): Double = {
      val rows = graft.ops.Embeddings.pqFidelityOf(emb, m = m, k = k).collect()
      rows.map(_.getAs[Double]("recon_cos")).sum / rows.length
    }
    val m16 = meanCos(16)
    val m2 = meanCos(2)
    // isotropic 64-dim corpus: 8x16 codebooks must carry real signal (a
    // random-codes baseline sits near 0), and doubling codebook capacity
    // must not lose fidelity
    assert(m16 >= 0.3, s"mean recon cosine $m16 at k=16")
    assert(m16 > m2, s"fidelity must grow with codebook size: k16=$m16 k2=$m2")
  }

  test("fused PQ codebook learner (r18) is bit-identical to the sliced per-subspace k-means it replaced") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf0001)
    val (m, k, dim, iters) = (8, 16, 64, 2)
    val sub = dim / m
    val fused = graft.ops.Embeddings.pqCodebooks(emb, m, k, dim, iters)
    // the pre-r18 formulation, literally: one independent ivfCentroids run
    // per sliced subspace frame — the fused single-pass learner must land
    // on the same bits (same seeds, same assignment arithmetic, same
    // partition-order merge, same rounding)
    val ref = (0 until m).map { j =>
      Similarity.ivfCentroids(
        emb.select(col("vec_id"),
          slice(col("embedding"), j * sub + 1, sub).as("embedding")),
        k, iters, sub)
    }.toArray
    assert(fused.length === ref.length)
    (0 until m).foreach { j =>
      assert(fused(j).map(_.toSeq).toSeq === ref(j).map(_.toSeq).toSeq,
        s"subspace $j codebook diverged from the sliced formulation")
    }
    // the dual-fused index build (full-dim cells + m subspace codebooks in
    // one chain) must reproduce BOTH independent learners to the bit
    val cells = 16
    val dual = graft.ops.Embeddings.fusedKmeans(emb,
      graft.ops.Embeddings.KmeansSpec(0, dim, cells, fullRow = true) +:
        (0 until m).map(j => graft.ops.Embeddings.KmeansSpec(j * sub, sub, k)),
      iters)
    val refCells = Similarity.ivfCentroids(emb, cells, iters, dim)
    assert(dual.head.map(_.toSeq).toSeq === refCells.map(_.toSeq).toSeq,
      "fullRow learner diverged from ivfCentroids")
    (0 until m).foreach { j =>
      assert(dual(j + 1).map(_.toSeq).toSeq === ref(j).map(_.toSeq).toSeq,
        s"dual-fused subspace $j diverged from the sliced formulation")
    }
  }

  test("fused k-means executor-side partial merge (r19) is bit-identical to the driver collect merge") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf0001)
    val (m, k, dim, iters) = (8, 16, 64, 2)
    val sub = dim / m
    val specs = graft.ops.Embeddings.KmeansSpec(0, dim, 16, fullRow = true) +:
      (0 until m).map(j => graft.ops.Embeddings.KmeansSpec(j * sub, sub, k))
    // collectMax = MaxValue forces the r18 driver merge; 0 forces the
    // distributed (learner, cell)-keyed pid-sorted merge. The totals fold
    // in the same ascending-partition order either way, so every learner
    // must land on identical bits — the guarantee that lets the partition
    // bound pick the strategy by scale without touching semantics.
    val viaCollect = graft.ops.Embeddings.fusedKmeans(emb, specs, iters,
      collectMax = Int.MaxValue)
    val viaShuffle = graft.ops.Embeddings.fusedKmeans(emb, specs, iters,
      collectMax = 0)
    assert(viaCollect.length === viaShuffle.length)
    viaCollect.indices.foreach { j =>
      assert(viaShuffle(j).map(_.toSeq).toSeq === viaCollect(j).map(_.toSeq).toSeq,
        s"learner $j diverged between merge strategies")
    }
    // the spread frame is multi-partition here, so the distributed path
    // actually merged across partitions rather than degenerating to one
    assert(emb.rdd.getNumPartitions > 1)
  }

  test("brute-force top-k is deterministic and self-consistent") {
    val rows = Similarity.bruteTopK(spark, sf0001, nQueries = 2, k = 3).collect()
    assert(rows.length === 6)
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      assert(g.map(_.getLong(1)).sorted.toSeq === (1L to 3L), "ranks 1..k")
      val cosByRank = g.sortBy(_.getLong(1)).map(_.getDouble(3)).toSeq
      assert(cosByRank.zip(cosByRank.tail).forall { case (a, b) => a >= b }, "cos non-increasing")
    }
  }

  test("truncated-prefix rerank: recall scales with the candidate margin; exact cosines on whatever it returns") {
    val k = 5
    val brute = Similarity.bruteTopK(spark, sf0001, nQueries = 5, k = k)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    def recallAt(cand: Int): Double = {
      val got = Similarity.truncatedRerank(spark, sf0001, nQueries = 5, k = k,
        candidates = cand)
        .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3)))
      // stage 2 is EXACT: any returned pair's cosine equals the brute pair's
      got.foreach { case (pair, cos) =>
        brute.get(pair).foreach(b => assert(cos === b, s"$pair rerank cos $cos != brute $b")) }
      got.map(_._1).count(brute.contains).toDouble / brute.size
    }
    // these embeddings are ISOTROPIC (no MRL structure), the hard case for
    // prefix screening: a 16-of-64 prefix ranks weakly, so recall must be
    // bought with candidate margin — the knob the operator exposes. The
    // assertions pin the tradeoff rather than assuming MRL-friendly data.
    val r50 = recallAt(50)
    val r300 = recallAt(300)
    assert(r50 >= 0.3, s"recall@$k = $r50 with candidates=50 (isotropic floor)")
    assert(r300 >= 0.9, s"recall@$k = $r300 with candidates=300 of 500")
    assert(r300 >= r50, "recall is monotone in the candidate margin")
    // a conservative pool is exact by construction: candidates >= corpus
    val exact = Similarity.truncatedRerank(spark, sf0001, nQueries = 5, k = k,
      candidates = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(exact === brute, "an all-corpus candidate pool must reproduce brute force exactly")
  }

  test("matryoshka fidelity: monotone in the prefix length, bounded by 1, full-dim sanity") {
    import graft.ops.Embeddings
    val rows = Embeddings.matryoshkaFidelity(spark, sf0001, dims = Seq(8, 16, 32, 64))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq === Seq(8L, 16L, 32L, 64L))
    assert(rows.map(_._2).distinct.length === 1, "every prefix sees every vector")
    rows.foreach { case (d, _, mean, mn) =>
      assert(mn > 0.0 && mean <= 1.0 && mn <= mean, s"d=$d out of bounds: mean=$mean min=$mn") }
    // fidelity grows with the prefix: ||x[1:d]|| is non-decreasing in d
    val means = rows.map(_._3).toSeq
    assert(means.zip(means.tail).forall { case (a, b) => a <= b }, s"non-monotone: $means")
    val (_, _, meanFull, minFull) = rows.last
    assert(meanFull === 1.0 && minFull === 1.0, "the full-dim prefix is the vector itself")
  }
}
