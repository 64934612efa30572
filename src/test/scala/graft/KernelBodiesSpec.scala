package graft

import graft.functions.{ArrayAgreeCount, BitVoteFingerprint, CosineSim, HyperplaneSignKeys,
  MinHashFamily, VectorExpressions}
import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col

/** Spark runs a kernel's interpreted `eval` whenever it evaluates a
  * projection without codegen (local-relation folding, constant folding, a
  * whole-stage compile that falls back) and its generated code everywhere
  * else. The DuckDB parity of the dedup and similarity operators rests on
  * both agreeing bit for bit, so every codegen'd vector kernel runs here
  * both ways over the same parquet rows — floats and doubles, a dimension
  * mismatch, empty arrays, null inputs, zero vectors, signatures of unequal
  * length — and the two results must be identical, doubles compared by
  * their raw bits.
  */
class KernelBodiesSpec extends SparkSpec {

  private val tables = 3
  private val k = 4
  private val dim = 4
  private val planes: Array[Array[Double]] = {
    val r = new scala.util.Random(7)
    Array.fill(tables * k)(Array.fill(dim)(r.nextGaussian()))
  }
  private val coefs = Dedup.minhashCoefs(16)

  private type Vecs = (Long, Seq[Float], Seq[Float], Seq[Double], Seq[Double],
    Seq[Long], Seq[Long], Seq[Long])

  /** id, xf, yf, xd, yd, sig_a, sig_b, hashes. */
  private def rows(): Seq[Vecs] = {
    val crafted: Seq[Vecs] = Seq(
      (1L, Seq(1.5f, -2f, 0.25f, 3f), Seq(0.5f, 1f, -1f, 2f),
        Seq(0.1, 0.2, 0.3, 0.4), Seq(-0.3, 0.7, 0.11, 1e-3),
        Seq(1L, 2L, 3L, 4L), Seq(1L, 5L, 3L, 4L),
        Seq(12345L, -7L, (1L << 40) | 5L, 99999999999L)),
      // dimension mismatch both ways; signatures of unequal length
      (2L, Seq(1f, 2f, 3f, 4f), Seq(1f, 2f, 3f),
        Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0, 4.0, 5.0),
        Seq(7L, 8L, 9L, 10L), Seq(7L, 0L),
        Seq(-1L, Long.MaxValue, Long.MinValue)),
      (3L, Seq(), Seq(), Seq(), Seq(), Seq(), Seq(), Seq()),
      (4L, null, null, null, null, null, null, null),
      // zero vectors: 0/0 cosines
      (5L, Seq(0f, 0f, 0f, 0f), Seq(0f, 0f, 0f, 0f),
        Seq(0.0, 0.0, 0.0, 0.0), Seq(1.0, -1.0, 2.0, 0.5),
        Seq(3L), Seq(3L, 4L, 5L), Seq(0L)),
      // one side null
      (6L, Seq(1f, 1f, 1f, 1f), null, null, Seq(1.0, 1.0, 1.0, 1.0),
        Seq(1L), null, Seq(42L, 42L, 42L)))
    val r = new scala.util.Random(11)
    val drawn: Seq[Vecs] = (100L until 140L).map { id =>
      def f() = Seq.fill(dim)(r.nextGaussian().toFloat)
      def d() = Seq.fill(dim)(r.nextGaussian())
      def sig() = Seq.fill(8)(r.nextInt(4).toLong)
      (id, f(), f(), d(), d(), sig(), sig(), Seq.fill(1 + r.nextInt(30))(r.nextLong()))
    }
    crafted ++ drawn
  }

  private lazy val source: String = {
    val s = spark
    import s.implicits._
    val dir = tempDir("kernel-bodies") + "/vecs.parquet"
    rows().toDF("id", "xf", "yf", "xd", "yd", "sa", "sb", "hs").write.parquet(dir)
    dir
  }

  private def kernels(df: DataFrame): DataFrame = df.select(
    col("id"),
    VectorExpressions.cosine(col("xf"), col("yf")).as("cos_ff"),
    VectorExpressions.cosine(col("xd"), col("yd")).as("cos_dd"),
    VectorExpressions.cosine(col("xf"), col("yd")).as("cos_fd"),
    VectorExpressions.agreeCount(col("sa"), col("sb")).as("agree"),
    VectorExpressions.hyperplaneKeys(col("xf"), planes, tables, k).as("keys_f"),
    VectorExpressions.hyperplaneKeys(col("xd"), planes, tables, k).as("keys_d"),
    VectorExpressions.minhashFamily(col("hs"), coefs, Dedup.MinhashP).as("mh"),
    VectorExpressions.bitVote(col("hs"), 60).as("bv60"),
    VectorExpressions.bitVote(col("hs"), 64).as("bv64"))

  private val kernelClasses: Seq[Class[_]] = Seq(classOf[CosineSim], classOf[ArrayAgreeCount],
    classOf[HyperplaneSignKeys], classOf[MinHashFamily], classOf[BitVoteFingerprint])

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prior = kv.map { case (key, _) => key -> spark.conf.getOption(key) }
    kv.foreach { case (key, v) => spark.conf.set(key, v) }
    try body finally prior.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }

  private def physical(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
    case p => p
  }

  /** Each column as a comparable value: doubles by raw bits, arrays as Seqs. */
  private def canonical(r: Row): Seq[Any] = r.toSeq.map {
    case d: Double => ("bits", java.lang.Double.doubleToRawLongBits(d))
    case s: scala.collection.Seq[_] => s.toList
    case v => v
  }

  private def run(df: DataFrame): Map[Long, Seq[Any]] =
    df.collect().map(r => r.getLong(0) -> canonical(r)).toMap

  private lazy val interpreted: (Map[Long, Seq[Any]], SparkPlan) =
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val df = kernels(spark.read.parquet(source))
      (run(df), physical(df))
    }

  private lazy val generated: (Map[Long, Seq[Any]], SparkPlan) =
    withConf("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false") {
      val df = kernels(spark.read.parquet(source))
      (run(df), physical(df))
    }

  test("each vector kernel's interpreted and generated bodies agree bit for bit") {
    val (evals, evalPlan) = interpreted
    val (gens, genPlan) = generated

    assert(evalPlan.collect { case w: WholeStageCodegenExec => w }.isEmpty,
      s"the interpreted run must not compile a stage:\n$evalPlan")
    val stagedExprs: Seq[Expression] = genPlan.collect { case w: WholeStageCodegenExec => w }
      .flatMap(_.child.collect { case p: ProjectExec => p.projectList })
      .flatMap(_.flatMap(_.collect { case e => e }))
    kernelClasses.foreach { c =>
      assert(stagedExprs.exists(e => c.isInstance(e)),
        s"${c.getSimpleName} must run inside a whole-stage codegen'd projection:\n$genPlan")
    }

    assert(evals.size === rows().size)
    assert(gens.keySet === evals.keySet)
    evals.keys.toSeq.sorted.foreach { id =>
      assert(gens(id) === evals(id), s"row $id: generated body differs from eval")
    }
  }

  test("the kernels' edge-row contracts hold on both paths") {
    def nan(v: Any): Boolean = v match {
      case ("bits", b: Long) => java.lang.Double.isNaN(java.lang.Double.longBitsToDouble(b))
      case _ => false
    }
    Seq(interpreted._1, generated._1).foreach { got =>
      // id, cos_ff, cos_dd, cos_fd, agree, keys_f, keys_d, mh, bv60, bv64
      val mismatch = got(2L)
      assert(mismatch(1) == null && mismatch(2) == null && mismatch(3) == null,
        "cosine of a dimension mismatch is null")
      assert(mismatch(4) === 1L, "unequal signatures compare over the shorter prefix")
      assert(mismatch(6) == null, "a 3-wide vector against 4-wide planes has no keys")
      assert(mismatch(5) != null)
      val empty = got(3L)
      assert(nan(empty(1)) && nan(empty(2)), "empty vectors: 0/0")
      assert(empty(4) === 0L && empty(5) == null && empty(6) == null)
      assert(empty(7) === List.fill(coefs.length)(Long.MaxValue), "min over no hashes")
      assert(empty(8) === 0L && empty(9) === 0L)
      assert(got(4L).drop(1).forall(_ == null), "null inputs give null")
      val zero = got(5L)
      assert(nan(zero(1)) && nan(zero(2)) && nan(zero(3)))
      assert(zero(5) === List.fill(tables)(0L) && zero(6) === List.fill(tables)(0L))
      assert(got(6L)(1) == null && got(6L)(4) == null && got(6L)(3) != null)
    }
  }
}
