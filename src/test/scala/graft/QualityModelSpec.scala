package graft

import org.apache.spark.sql.functions._

/** B61 — quality-classifier training: independent sequential replay of the
  * WHOLE pipeline (featurization from raw text, full-batch GD with the
  * published grid rounding, sigmoid scoring) must reproduce the
  * distributed result — the embeddingPca verification recipe applied to
  * logistic regression. Plus model-quality sanity: the classifier must
  * actually separate its own training labels (it distills a deterministic
  * threshold stack — if it can't fit THAT, the training loop is broken).
  */
class QualityModelSpec extends SparkSpec {

  private val iters = 40
  private val step = 5.0
  private val l2 = 1e-4

  private def round8(x: Double) = math.rint(x * 1e8) / 1e8
  private def round6(x: Double) = math.rint(x * 1e6) / 1e6

  test("qualityClassifier matches a sequential local replay of features, GD, and scores") {
    val got = graft.ops.QualityModel.qualityClassifier(spark, sf0001, iters, step, l2)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("label"), r.getAs[Double]("prob"), r.getAs[Boolean]("predicted")))
      .toMap
    // --- independent featurization from the raw table -----------------
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"), r.getAs[Long]("n_chars")))
      .sortBy(_._1)
    val rows = docs.map { case (id, text, nChars) =>
      val tok = text.split(" ", -1)
      val nTok = tok.length.toDouble
      val rep = {
        val total2 = math.max(tok.length - 1, 1).toDouble
        val distinct2 = tok.sliding(2).filter(_.length == 2)
          .map(_.mkString("\u0000")).toSet.size.toDouble
        round6(1.0 - distinct2 / total2)
      }
      val label =
        if (nChars >= 100 && nChars <= 20000 && tok.length >= 30 && rep <= 0.07) 1.0 else 0.0
      val x = Array(1.0,
        math.min(1.0, nChars.toDouble / 1000.0),
        math.min(1.0, nTok / 200.0),
        (text.length.toDouble - (nTok - 1.0)) / nTok / 10.0,
        tok.distinct.length.toDouble / nTok,
        rep)
      (id, label, x)
    }
    // --- sequential GD with the same grid rounding --------------------
    val d = 6
    val n = rows.length
    var w = new Array[Double](d)
    for (_ <- 1 to iters) {
      val g = new Array[Double](d)
      rows.foreach { case (_, y, x) =>
        val dot = (0 until d).map(i => w(i) * x(i)).sum
        val err = 1.0 / (1.0 + math.exp(-dot)) - y
        (0 until d).foreach(i => g(i) += err * x(i))
      }
      w = Array.tabulate(d)(i =>
        round8(w(i) - step * (round8(g(i) / n) + (if (i == 0) 0.0 else l2 * w(i)))))
    }
    val want = rows.map { case (id, y, x) =>
      val dot = (0 until d).map(i => w(i) * x(i)).sum
      id -> (y.toLong, round6(1.0 / (1.0 + math.exp(-dot))))
    }.toMap
    assert(got.keySet === want.keySet)
    for ((id, (label, prob)) <- want) {
      assert(got(id)._1 === label, s"doc $id label")
      assert(math.abs(got(id)._2 - prob) < 1e-6, s"doc $id prob ${got(id)._2} vs $prob")
      assert(got(id)._3 === (got(id)._2 >= 0.5), s"doc $id predicted")
    }
  }

  test("the trained classifier separates its own funnel labels") {
    val got = graft.ops.QualityModel.qualityClassifier(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("label"), r.getAs[Double]("prob"), r.getAs[Boolean]("predicted")))
    val (pos, neg) = got.partition(_._1 == 1L)
    assert(pos.nonEmpty && neg.nonEmpty, "both classes must occur at gate SF")
    val acc = got.count(r => (r._1 == 1L) == r._3).toDouble / got.length
    val base = math.max(pos.length, neg.length).toDouble / got.length
    assert(acc > base, s"training accuracy $acc must beat the majority-class rate $base")
    assert(acc >= 0.85, s"training accuracy $acc — the model must fit the stack it distills")
    val meanPos = pos.map(_._2).sum / pos.length
    val meanNeg = neg.map(_._2).sum / neg.length
    assert(meanPos - meanNeg > 0.25,
      s"calibrated separation: mean prob pos=$meanPos neg=$meanNeg")
  }

  test("qualityClassifier constructs lazily (no jobs at composition)") {
    val df = graft.ops.QualityModel.qualityClassifier(spark, sf0001)
    assert(df.queryExecution.logical.isInstanceOf[graft.plans.DeferredRelation])
  }

  test("qualitySweep replays exactly from the registered classifier output") {
    val scored = graft.ops.QualityModel.qualityClassifier(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("label"), r.getAs[Double]("prob")))
    val n = scored.length
    val pos = scored.count(_._1 == 1L)
    val got = graft.ops.QualityModel.qualitySweep(spark, sf0001).collect()
      .map(r => r.getAs[Double]("threshold") ->
        (r.getAs[Long]("kept"), r.getAs[Double]("kept_frac"),
          Option(r.get(r.fieldIndex("precision"))).map(_.asInstanceOf[Double]),
          Option(r.get(r.fieldIndex("recall"))).map(_.asInstanceOf[Double])))
      .toMap
    val grid = (5 to 95 by 5).map(_ / 100.0)
    assert(got.keySet === grid.toSet)
    for (t <- grid) {
      val kept = scored.count(_._2 >= t).toLong
      val keptPos = scored.count(r => r._2 >= t && r._1 == 1L).toLong
      val (gk, gf, gp, gr) = got(t)
      assert(gk === kept, s"t=$t kept")
      assert(gf === round6(kept.toDouble / n), s"t=$t kept_frac")
      assert(gp === (if (kept > 0) Some(round6(keptPos.toDouble / kept)) else None),
        s"t=$t precision")
      assert(gr === (if (pos > 0) Some(round6(keptPos.toDouble / pos)) else None),
        s"t=$t recall")
    }
    // non-degenerate operating curve at gate SF: kept must actually fall
    // across the grid (a flat curve would make the sweep vacuous)
    assert(got(grid.head)._1 > got(grid.last)._1, "kept must decrease over the grid")
  }

  test("qualityCalibration replays exactly from the classifier output and ranks the classes") {
    val scored = graft.ops.QualityModel.qualityClassifier(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("label"), r.getAs[Double]("prob")))
    val got = graft.ops.QualityModel.qualityCalibration(spark, sf0001).collect()
      .map(r => r.getAs[Double]("bucket_lo") ->
        (r.getAs[Long]("n_docs"), r.getAs[Double]("mean_prob"), r.getAs[Double]("label_rate")))
      .toMap
    val byBin = scored.groupBy { case (_, p) => math.min(math.floor(p * 10).toLong, 9L) }
    assert(got.keySet === byBin.keySet.map(_.toDouble / 10))
    // Spark's round(col, 6) is HALF_UP over the double's shortest decimal
    // representation — mirror it exactly (math.rint is half-even and split
    // an exact .5-at-6dp mean by one grid step)
    def sparkRound6(d: Double): Double =
      java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    for ((b, xs) <- byBin) {
      val (n, mp, lr) = got(b.toDouble / 10)
      assert(n === xs.length.toLong, s"bin $b size")
      // same decimal(18,6) sum: probs are 6-dp, so BigDecimal sums exactly
      val want = xs.map(x => BigDecimal(x._2).setScale(6)).sum.toDouble / xs.length
      assert(math.abs(mp - sparkRound6(want)) < 1e-9, s"bin $b mean_prob")
      assert(math.abs(lr - sparkRound6(xs.count(_._1 == 1L).toDouble / xs.length)) < 1e-9,
        s"bin $b label_rate")
    }
    assert(got.values.map(_._1).sum === scored.length.toLong, "bins partition the corpus")
    // a separating model must rank: the top occupied bin's label rate
    // beats the bottom occupied bin's
    val keys = got.keySet.toSeq.sorted
    assert(got(keys.last)._3 > got(keys.head)._3, "reliability must rank the classes")
  }

  test("qualitySweep reuses the classifier's trained weights (no second GD run)") {
    // force a trained model into the memo, then assert the sweep's action
    // never re-enters the GD loop — the r12 defect was the sweep repeating
    // the classifier's identical 40-pass training run
    graft.ops.QualityModel.qualityClassifier(spark, sf0001)
      .write.format("noop").mode("overwrite").save()
    val before = graft.ops.QualityModel.trainRuns.get()
    graft.ops.QualityModel.qualitySweep(spark, sf0001)
      .write.format("noop").mode("overwrite").save()
    assert(graft.ops.QualityModel.trainRuns.get() === before,
      "sweep re-ran training despite a memoized weight vector for the same " +
        "(dir, hyperparams)")
  }

  test("weight memo misses when the documents table is rewritten (fingerprint key)") {
    // r13 ADVICE: the old memo key was dir+hyperparams only, so an
    // in-session corpus rewrite silently scored fresh data with stale
    // weights. The key now embeds a file-metadata fingerprint: same files →
    // memo hit, rewritten files → retrain, no invalidation call involved.
    val dir = tempDir("qm_fp")
    val src = spark.read.parquet(s"$sf0001/documents.parquet").limit(100).persist()
    src.write.parquet(s"$dir/documents.parquet")
    def score() = graft.ops.QualityModel.qualityClassifier(spark, dir)
      .write.format("noop").mode("overwrite").save()
    val t0 = graft.ops.QualityModel.trainRuns.get()
    score()
    assert(graft.ops.QualityModel.trainRuns.get() === t0 + 1, "first call trains")
    score()
    assert(graft.ops.QualityModel.trainRuns.get() === t0 + 1,
      "unchanged files must hit the memo")
    // rewrite the table under the same dir (different row count → different
    // file lengths, so mtime granularity cannot mask the change)
    src.limit(80).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    src.unpersist()
    score()
    assert(graft.ops.QualityModel.trainRuns.get() === t0 + 2,
      "a rewritten corpus must miss the memo and retrain")
  }
}
