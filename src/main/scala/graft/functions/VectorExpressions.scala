package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.{shim => sqlshim}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector-heavy operators (SURVEY.md §2
  * B5). The built-in higher-order functions (`zip_with` + `aggregate`) are
  * interpreted per element with boxing — fine for occasional use, 10ms/row
  * for a 96-plane LSH projection. These expressions run the same arithmetic
  * as a tight JVM loop.
  *
  * Every kernel has ONE body. The per-pair and per-row vector kernels
  * (cosine, sign keys, MinHash, bit vote, agreement count) keep their
  * projection in whole-stage codegen: each body is a plain function in
  * [[VectorKernels]], `nullSafeEval` calls it and the generated code emits
  * a static call to it, with scalar parameters spliced in as literals (the
  * pattern of Spark's `DateTimeUtils`-backed expressions). Not
  * `CodegenFallback`, which would also leave one body but evaluates the
  * children through `eval` and boxes every `Long`/`Double` result of a
  * per-candidate-pair kernel. The other kernels are `CodegenFallback`:
  * one interpreted call per row around a tight loop, the surrounding
  * projection still codegen'd.
  *
  * Arithmetic order matches the HOF formulation exactly (sequential
  * left-fold in double), so results — and the DuckDB oracle parity — are
  * bit-for-bit unchanged. KernelBodiesSpec runs each codegen'd kernel
  * interpreted and generated over the same rows.
  */
object VectorExpressions {

  /** cosine(a, b) as a Column; arrays of float or double. */
  def cosine(a: Column, b: Column): Column =
    sqlshim.column(CosineSim(sqlshim.expression(a), sqlshim.expression(b)))

  /** All LSH table keys for a vector: long[tables], bit j of key t = sign of
    * the projection onto plane t*k+j.
    */
  def hyperplaneKeys(vec: Column, planes: Array[Array[Double]], tables: Int, k: Int): Column =
    sqlshim.column(HyperplaneSignKeys(sqlshim.expression(vec),
      planes.map(_.toSeq).toSeq, tables, k))

  /** MinHash signature from pre-hashed shingles: sig[i] = min over h of
    * (a_i*h + b_i) mod p. One codegen pass over elements×hashes.
    */
  def minhashFamily(hashes: Column, coefs: Seq[(Long, Long)], p: Long): Column =
    sqlshim.column(MinHashFamily(sqlshim.expression(hashes),
      coefs.map(_._1), coefs.map(_._2), p))

  /** SimHash-style bit-vote fingerprint over pre-hashed tokens: bit b of the
    * result is 1 iff Σ_h (±1 by bit b of h) > 0, for b < nbits.
    */
  def bitVote(hashes: Column, nbits: Int): Column =
    sqlshim.column(BitVoteFingerprint(sqlshim.expression(hashes), nbits))

  /** Distinct token k-shingles of a text, hashed in one row-level pass:
    * struct(h24: the 24-bit md5-prefix banding base hash, hv: the 60-bit
    * md5-prefix verify hash). See ShingleHashes.
    */
  def shingleHashes(text: Column, k: Int): Column =
    sqlshim.column(ShingleHashes(sqlshim.expression(text), k))

  /** Position-aligned (non-deduped) per-start 60-bit md5-prefix shingle
    * hashes. See PositionalShingleHashes.
    */
  def positionalShingleHashes(text: Column, k: Int): Column =
    sqlshim.column(PositionalShingleHashes(sqlshim.expression(text), k))

  /** Int8 max-abs quantization summary in one pass: struct(maxabs, ss,
    * q_csv). See QuantizeVector.
    */
  def quantizeVector(vec: Column): Column =
    sqlshim.column(QuantizeVector(sqlshim.expression(vec)))

  /** Per-language stopword hit counts + token count in one tokenize pass:
    * struct(hits: array<long>, n_tokens). See StopwordHits.
    */
  def stopwordHits(text: Column, stopwords: Seq[Seq[String]]): Column =
    sqlshim.column(StopwordHits(sqlshim.expression(text), stopwords.map(_.toIndexedSeq).toIndexedSeq))

  /** Per-token hashes (duplicates KEPT — SimHash bit votes are
    * frequency-weighted) in one tokenize pass. See TokenHashes.
    */
  def tokenHashes(text: Column): Column =
    sqlshim.column(TokenHashes(sqlshim.expression(text)))

  /** Raw-deflate compressed byte length at a fixed zlib level.
    * See DeflatedSize.
    */
  def deflatedSize(text: Column, level: Int): Column =
    sqlshim.column(DeflatedSize(sqlshim.expression(text), level))

  /** Whitespace + BPE-ish token counts in one code-point scan:
    * struct(ws_tokens, bpeish_tokens). See TokenCounts.
    */
  def tokenCounts(text: Column): Column =
    sqlshim.column(TokenCounts(sqlshim.expression(text)))

  /** Per-document query-term frequencies + doc length in one scan:
    * struct(dl, tf: array<long> aligned with `terms`). See TermFrequencies.
    */
  def termFrequencies(text: Column, terms: Seq[String]): Column =
    sqlshim.column(TermFrequencies(sqlshim.expression(text), terms.toIndexedSeq))

  /** Per-doc token-entropy sufficient statistics in one tokenize pass:
    * struct(n_tokens, n_distinct, s = Σ c·ln c). See TokenEntropyStats.
    */
  def tokenEntropyStats(text: Column): Column =
    sqlshim.column(TokenEntropyStats(sqlshim.expression(text)))

  /** Per-doc DISTINCT space-joined n-grams with within-doc counts in one
    * tokenize pass: array<struct(g, c)>, first-occurrence order. See
    * NgramCounts.
    */
  def ngramCounts(text: Column, n: Int): Column =
    sqlshim.column(NgramCounts(sqlshim.expression(text), n))

  /** Every order 1..maxN of [[ngramCounts]] in ONE tokenize pass:
    * array<struct(n, g, c)>, orders ascending, first-occurrence order
    * within an order. See NgramMultiCounts.
    */
  def ngramMultiCounts(text: Column, maxN: Int): Column =
    sqlshim.column(NgramMultiCounts(sqlshim.expression(text), maxN))

  /** Every Gopher-battery sufficient statistic in one scan per row:
    * struct(n_words, word_chars, n_alpha_words, n_stop_distinct, n_lines,
    * n_bullet_lines, n_ell_end_lines, n_hash, n_ellipsis). See GopherStats.
    */
  def gopherStats(text: Column, stopwords: Seq[String]): Column =
    sqlshim.column(GopherStats(sqlshim.expression(text), stopwords.toIndexedSeq))

  /** Asymmetric-distance (ADC) cosine of a packed PQ code against a
    * per-query lookup table. See PqAdcScore.
    */
  def pqAdcScore(code: Column, dotLut: Column, normLut: Array[Array[Double]],
                 bitsPerCode: Int): Column =
    sqlshim.column(PqAdcScore(sqlshim.expression(code), sqlshim.expression(dotLut),
      normLut.map(_.toSeq).toSeq, bitsPerCode))

  /** Count of positions where two long arrays agree — the MinHash
    * signature-agreement kernel. See ArrayAgreeCount.
    */
  def agreeCount(a: Column, b: Column): Column =
    sqlshim.column(ArrayAgreeCount(sqlshim.expression(a), sqlshim.expression(b)))

  /** Index of the max-cosine centroid (ties → higher index, NaN greatest —
    * Spark double-ordering semantics). See NearestCentroid.
    */
  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column =
    sqlshim.column(NearestCentroid(sqlshim.expression(vec),
      centroids.map(_.toIndexedSeq).toIndexedSeq))

  /** The `nprobe` best cells for a query vector, descending (cos, idx) —
    * identical ordering to reverse(array_sort(struct(cos, idx))). See
    * ProbeCellIds.
    */
  def probeCellIds(vec: Column, centroids: Array[Array[Double]], nprobe: Int): Column =
    sqlshim.column(ProbeCellIds(sqlshim.expression(vec),
      centroids.map(_.toIndexedSeq).toIndexedSeq, nprobe))

  /** Centered projections onto k constant basis rows: out[c] =
    * Σ_i (x_i − means_i) · basis[c][i]. One tight per-row loop — the PCA
    * scoring pass. See ProjectVector.
    */
  def projectVector(vec: Column, basis: Array[Array[Double]], means: Array[Double]): Column =
    sqlshim.column(ProjectVector(sqlshim.expression(vec),
      basis.map(_.toIndexedSeq).toIndexedSeq, means.toIndexedSeq))

  /** Driver-side evaluation of [[ProbeCellIds]] for a handful of collected
    * query vectors — evaluates the SAME expression instance the distributed
    * plan would run (identical fold order, tie/NaN handling), so the cell
    * choice is bit-identical while costing zero Spark jobs. KB-bounded by
    * the caller (≤ nQueries vectors).
    */
  def probeCellsLocal(vec: Seq[Float], centroids: Array[Array[Double]], nprobe: Int): Array[Int] = {
    val expr = ProbeCellIds(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        vec, ArrayType(FloatType, containsNull = false)),
      centroids.map(_.toIndexedSeq).toIndexedSeq, nprobe)
    expr.eval(InternalRow.empty) match {
      case null => Array.empty[Int] // dimension mismatch: no cells, same as the plan's null
      case a: ArrayData => a.toIntArray()
    }
  }
}

/** Shared kernel for the IVF cell expressions: cosines of a vector against
  * a centroid matrix carried as an expression FIELD — the composed
  * formulation (one CosineSim per typedlit centroid) code-generates the
  * whole C×dim matrix as Java literals, and compilation dominates runtime.
  * Arithmetic matches CosineSim exactly (sequential double folds), and
  * comparisons use java.lang.Double.compare — Spark's double ordering
  * (NaN greatest), so tie/NaN behavior is identical to the
  * greatest(struct(cos, idx)) / array_sort formulations.
  */
private[graft] object CentroidKernel {
  /** Construction-time guard for the centroid matrix: every row must share
    * one dimension. [[cosines]] checks only centroids(0) against the input
    * vector (one comparison on the hot path); with a MIXED-length matrix —
    * reachable when ivfCentroids' `dim` parameter disagrees with the actual
    * embedding width, leaving seed-length and dim-length rows mixed — the
    * unclamped inner loop would throw ArrayIndexOutOfBoundsException mid-
    * query. Failing at expression construction names the real mistake
    * instead.
    */
  def requireUniform(centroids: Seq[Seq[Double]]): Unit =
    require(centroids.isEmpty || centroids.forall(_.length == centroids.head.length),
      s"centroid matrix rows must share one dimension, got lengths " +
        centroids.map(_.length).distinct.sorted.mkString("{", ",", "}"))

  /** Cosine of `v` against every centroid, or NULL when the vector's
    * dimension differs from the (uniform) centroid dimension — the same
    * null-on-mismatch contract as CosineSim, never a silently-truncated
    * score (a truncated cosine is wrong-but-plausible and would route the
    * row to a confidently wrong cell).
    */
  def cosines(v: ArrayData, isFloat: Boolean, centroids: Array[Array[Double]]): Array[Double] = {
    val n = v.numElements()
    if (centroids.length > 0 && centroids(0).length != n) return null
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      x(i) = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    val out = new Array[Double](centroids.length)
    cosines(x, centroids, out)
    out
  }

  /** The cosine fold itself: out(c) = cos(x, centroids(c)) over the first
    * centroids(0).length components of `x`, norms and dots as sequential
    * double folds in component order. `x` and `out` are the caller's
    * buffers, so a per-row loop can reuse them.
    */
  def cosines(x: Array[Double], centroids: Array[Array[Double]], out: Array[Double]): Unit = {
    val n = if (centroids.length > 0) centroids(0).length else 0
    var na = 0.0
    var i = 0
    while (i < n) { na += x(i) * x(i); i += 1 }
    val sna = math.sqrt(na)
    var c = 0
    while (c < centroids.length) {
      val ctr = centroids(c)
      var dot = 0.0
      var nb = 0.0
      var j = 0
      while (j < n) { dot += x(j) * ctr(j); nb += ctr(j) * ctr(j); j += 1 }
      out(c) = dot / (sna * math.sqrt(nb))
      c += 1
    }
  }

  /** Index of the greatest cosine under Spark's double ordering (NaN
    * greatest); ties go to the HIGHER index.
    */
  def argmax(cos: Array[Double]): Int = {
    var best = 0
    var i = 1
    while (i < cos.length) {
      if (java.lang.Double.compare(cos(i), cos(best)) >= 0) best = i
      i += 1
    }
    best
  }

  def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  def checkVec(e: Expression): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"expected array<float|double>, got $t")
    }
}

/** The one body of each per-row vector kernel whose projection stays in
  * whole-stage codegen ([[ArrayAgreeCount]], [[CosineSim]],
  * [[HyperplaneSignKeys]], [[MinHashFamily]], [[BitVoteFingerprint]]).
  * Each expression's `nullSafeEval` calls its function here, and its
  * `doGenCode` emits a static call to the same function ([[call]]), so the
  * interpreted and the generated path cannot drift apart. Arguments are
  * `ArrayData` and primitives, results primitive or `ArrayData`: nothing
  * is boxed on the generated path. Scalar parameters arrive in generated
  * code as Java literals, so once C2 inlines the call it folds them as
  * constants (the `% p` of the MinHash loop among them).
  */
private[functions] object VectorKernels {

  /** Java source of a static call to one of these functions. */
  def call(fn: String, args: Any*): String =
    s"${getClass.getName.stripSuffix("$")}.$fn(${args.mkString(", ")})"

  /** Positions where `x` and `y` hold equal longs, over the shorter one. */
  def agreeCount(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var c = 0L
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) c += 1L
      i += 1
    }
    c
  }

  /** dot/(sqrt(na)*sqrt(nb)) in one sequential fold; the caller has checked
    * that `x` and `y` have one length.
    */
  def cosine(x: ArrayData, y: ArrayData, xFloat: Boolean, yFloat: Boolean): Double = {
    val n = x.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yFloat) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** `tables` keys, bit j of key t the sign of the projection onto plane
    * t*k+j; null when the vector is not `dim` wide.
    */
  def signKeys(vec: ArrayData, isFloat: Boolean, planes: Array[Array[Double]],
               dim: Int, tables: Int, k: Int): ArrayData = {
    if (vec.numElements() != dim) return null
    val keys = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bits = 0L
      var j = 0
      while (j < k) {
        val row = planes(t * k + j)
        var proj = 0.0
        var i = 0
        while (i < dim) {
          val v = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
          proj += v * row(i)
          i += 1
        }
        if (proj > 0) bits |= (1L << j)
        j += 1
      }
      keys(t) = bits
      t += 1
    }
    new GenericArrayData(keys)
  }

  /** sig(j) = min over the hashes h of (a(j)*h + b(j)) mod p; an empty
    * input gives the identity of min (callers guarantee one shingle).
    */
  def minhash(hs: ArrayData, a: Array[Long], b: Array[Long], p: Long): ArrayData = {
    val n = hs.numElements()
    val mins = new Array[Long](a.length)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < mins.length) {
        val v = (h * a(j) + b(j)) % p
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Bit b < nbits is 1 iff more hashes have bit b set than clear. */
  def bitVote(hs: ArrayData, nbits: Int): Long = {
    val n = hs.numElements()
    val votes = new Array[Int](nbits)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var b = 0
      while (b < nbits) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < nbits) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

/** The shell of the cell kernels ([[NearestCentroid]], [[ProbeCellIds]]):
  * a uniform centroid matrix (checked at construction), an
  * array<float|double> input, and [[cells]] applied to the row's cosines
  * against every centroid — or NULL when the vector's dimension differs
  * from the centroids' (CosineSim's contract), never a silently wrong cell.
  */
abstract class CentroidCells(rows: Seq[Seq[Double]])
    extends UnaryExpression with CodegenFallback with Serializable {

  CentroidKernel.requireUniform(rows)

  // nullable even over a non-null child: dimension mismatch yields null
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    CentroidKernel.checkVec(child)

  // the matrix field stays a Seq so case-class equality is structural (two
  // plans with the same centroids canonicalize/CSE together); the hot loop
  // reads this array view
  @transient private lazy val matrix: Array[Array[Double]] = rows.map(_.toArray).toArray

  /** The result for one row from its cosine against each centroid. */
  protected def cells(cos: Array[Double]): Any

  override def nullSafeEval(input: Any): Any = {
    val cos = CentroidKernel.cosines(input.asInstanceOf[ArrayData],
      CentroidKernel.elemIsFloat(child), matrix)
    if (cos == null) null else cells(cos)
  }
}

/** argmax-cosine cell id; ties resolve to the HIGHER index, NaN ranks
  * greatest — bit-compatible with greatest(struct(CosineSim, idx)).getField("idx").
  */
case class NearestCentroid(child: Expression, centroids: Seq[Seq[Double]])
    extends CentroidCells(centroids) {

  override def dataType: DataType = IntegerType

  override protected def cells(cos: Array[Double]): Any = CentroidKernel.argmax(cos)

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** Centered dot products against a constant basis matrix: the PCA
  * projection kernel. out[c] = Σ_i (x_i − means_i)·basis[c][i], summed in
  * ascending component order (the order the oracle's sum effectively
  * reproduces to ~1 ulp; outputs are rounded downstream, same float budget
  * as lmPerplexity). The basis/means ride as expression FIELDS — the same
  * no-generated-literals choice as [[NearestCentroid]], since codegen'ing a
  * k×dim matrix as Java source makes compilation dominate runtime. Null on
  * dimension mismatch, never a truncated projection.
  */
case class ProjectVector(child: Expression, basis: Seq[Seq[Double]], means: Seq[Double])
    extends UnaryExpression with CodegenFallback {

  CentroidKernel.requireUniform(basis)
  require(basis.isEmpty || basis.head.length == means.length,
    s"basis dimension ${basis.headOption.map(_.length)} must equal means dimension ${means.length}")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    CentroidKernel.checkVec(child)

  @transient private lazy val matrix: Array[Array[Double]] = basis.map(_.toArray).toArray
  @transient private lazy val mu: Array[Double] = means.toArray

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    if (n != mu.length) return null // dimension mismatch: null, never wrong scores
    val isFloat = CentroidKernel.elemIsFloat(child)
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      x(i) = (if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)) - mu(i)
      i += 1
    }
    val out = new Array[Double](matrix.length)
    var c = 0
    while (c < matrix.length) {
      val b = matrix(c)
      var dot = 0.0
      var j = 0
      while (j < n) { dot += x(j) * b(j); j += 1 }
      out(c) = dot
      c += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): ProjectVector =
    copy(child = newChild)
}

/** Top-`nprobe` cell ids by descending (cosine, idx) — the ordering of
  * reverse(array_sort(struct(cos, idx))) under Spark double ordering.
  */
case class ProbeCellIds(child: Expression, centroids: Seq[Seq[Double]], nprobe: Int)
    extends CentroidCells(centroids) {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override protected def cells(cos: Array[Double]): Any = {
    val idx = Array.range(0, cos.length)
    val ordered = idx.sortWith { (a, b) =>
      val c = java.lang.Double.compare(cos(a), cos(b))
      if (c != 0) c > 0 else a > b
    }
    new GenericArrayData(ordered.take(math.min(nprobe, ordered.length)))
  }

  override protected def withNewChildInternal(newChild: Expression): ProbeCellIds =
    copy(child = newChild)
}

/** Positions where two long arrays hold equal values, one
  * [[VectorKernels.agreeCount]] call per row inside whole-stage codegen —
  * the per-candidate-pair MinHash agreement count that the
  * `aggregate(zip_with(...))` formulation evaluates with an interpreted
  * lambda per element. Arrays of different lengths compare over the shorter
  * prefix (zip_with semantics would pad with null ≠ anything — callers only
  * ever pass equal-length signatures).
  */
case class ArrayAgreeCount(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"agree_count expects two array<long>, got $l, $r")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.agreeCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => VectorKernels.call("agreeCount", a, b))

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ArrayAgreeCount =
    copy(left = newLeft, right = newRight)
}

/** The parity-critical md5-prefix bit layout, in ONE place: hash60 = the
  * first 15 hex chars of md5 as a long (7 bytes, then the high nibble of
  * byte 7) — DuckDB's ('0x'||substr(md5(x),1,15))::BIGINT — and hash24 =
  * the first 6 hex chars (3 bytes). TokenHashes, ShingleHashes, and
  * PositionalShingleHashes all fold through here, so the layout the DuckDB
  * oracle replays cannot drift between expressions. One MessageDigest
  * per thread (MD5 instances are not thread-safe).
  */
private[functions] object Md5Prefix {
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  def digest(bytes: Array[Byte]): Array[Byte] = {
    val d = md5Local.get(); d.reset(); d.digest(bytes)
  }
  def hash60(d: Array[Byte]): Long = {
    var v = 0L
    var b = 0
    while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
    (v << 4) | ((d(7) & 0xffL) >>> 4)
  }
  def hash24(d: Array[Byte]): Long =
    ((d(0) & 0xffL) << 16) | ((d(1) & 0xffL) << 8) | (d(2) & 0xffL)
}

/** The shell of every unary string kernel below: a string input (the type
  * check's failure names the kernel's SQL name, `fnName`), a null result
  * exactly for a null input, and one interpreted call per row
  * (CodegenFallback per the D1 convention; the projection around it stays
  * whole-stage-codegen'd).
  */
abstract class StringKernel(fnName: String)
    extends UnaryExpression with CodegenFallback with Serializable {

  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$fnName expects string, got $t")
    }
}

/** Whitespace tokens hashed in ONE pass per row, duplicates kept (unlike
  * ShingleHashes, which dedups for set semantics), each to its 60-bit md5
  * prefix — ('0x'||substr(md5(x),1,15))::BIGINT in DuckDB. Replaces the
  * interpreted per-token transform lambda in the SimHash path.
  */
case class TokenHashes(child: Expression)
    extends StringKernel("token_hashes") {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    val out = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      val bytes = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out(i) = Md5Prefix.hash60(Md5Prefix.digest(bytes))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenHashes =
    copy(child = newChild)
}

/** Cosine similarity of two numeric arrays, computed in one pass:
  * dot/(sqrt(na)*sqrt(nb)), sequential fold in document order
  * ([[VectorKernels.cosine]]). Null when the lengths differ; the generated
  * code checks that before its static call.
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def lf = CentroidKernel.elemIsFloat(left)
  private def rf = CentroidKernel.elemIsFloat(right)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (CentroidKernel.checkVec(left).isSuccess && CentroidKernel.checkVec(right).isSuccess)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects array<float|double>, got ${left.dataType}, ${right.dataType}")

  // dimension mismatch → null, never a silently-truncated score
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else VectorKernels.cosine(x, y, lf, rf)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if ($a.numElements() != $b.numElements()) ${ev.isNull} = true;
      else ${ev.value} = ${VectorKernels.call("cosine", a, b, lf, rf)};
    """)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Packed sign-LSH table keys: for each of `tables` tables, a long whose k
  * low bits are the signs of the vector's projections onto that table's
  * hyperplanes. One pass over tables×k×dim ([[VectorKernels.signKeys]]),
  * the plane matrix passed by reference and its shape as literals.
  */
case class HyperplaneSignKeys(child: Expression, planes: Seq[Seq[Double]],
                              tables: Int, k: Int) extends UnaryExpression {

  // A mis-sized matrix must fail at BUILD time, not AIOOBE mid-query
  // (same contract as CentroidKernel.requireUniform for centroids).
  require(planes.length == tables * k,
    s"hyperplane matrix has ${planes.length} rows, expected tables*k = ${tables * k}")

  // Seq constants give structural equals/hashCode (Array fields compare by
  // reference, defeating plan canonicalization / subexpression elimination);
  // the hot loops run over this one-time Array view.
  @transient private lazy val planesArr: Array[Array[Double]] = planes.map(_.toArray).toArray
  @transient private lazy val planeDim: Int =
    if (planesArr.isEmpty) 0 else planesArr(0).length

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // nullable even for a non-null child: a vector whose width differs from
  // the plane dimension returns NULL — the same mismatch-is-an-error-signal
  // contract as CosineSim, where the old min(dim, row.length) truncation
  // assigned confidently WRONG bucket keys to narrow vectors.
  override def nullable: Boolean = true
  // Same input gate as every other vector expression here: without it an
  // array<int>/array<long> column passes analysis and getDouble reinterprets
  // raw bytes — silently wrong bucket keys instead of an analysis error.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    CentroidKernel.checkVec(child)

  private def isFloat = CentroidKernel.elemIsFloat(child)

  // width mismatch → null, an error signal, never a truncated key
  override def nullSafeEval(input: Any): Any =
    VectorKernels.signKeys(input.asInstanceOf[ArrayData], isFloat, planesArr, planeDim, tables, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planesArr, "double[][]")
    nullSafeCodeGen(ctx, ev, vec => s"""
      ${ev.value} = ${VectorKernels.call("signKeys", vec, isFloat, planesRef, planeDim, tables, k)};
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSignKeys =
    copy(child = newChild)
}

/** MinHash signature family over a pre-hashed shingle array: for each of the
  * k (a, b) coefficient pairs, the min over elements of (a*h + b) mod p.
  * Replaces k interpreted `transform`+`array_min` passes (one boxed lambda
  * call per element per hash) with a single elements×k loop
  * ([[VectorKernels.minhash]]) called from the codegen'd projection — the
  * same universal-hash arithmetic, identical results.
  */
case class MinHashFamily(child: Expression, coefA: Seq[Long], coefB: Seq[Long],
                         p: Long) extends UnaryExpression {

  // Seq constants for structural equality (see HyperplaneSignKeys); hot
  // loops and codegen references use the one-time Array views.
  @transient private lazy val coefAArr: Array[Long] = coefA.toArray
  @transient private lazy val coefBArr: Array[Long] = coefB.toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash_family expects array<bigint>, got $t")
    }

  override def nullSafeEval(input: Any): Any =
    VectorKernels.minhash(input.asInstanceOf[ArrayData], coefAArr, coefBArr, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("coefA", coefAArr, "long[]")
    val bRef = ctx.addReferenceObj("coefB", coefBArr, "long[]")
    defineCodeGen(ctx, ev, hs => VectorKernels.call("minhash", hs, aRef, bRef, s"${p}L"))
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashFamily =
    copy(child = newChild)
}

/** Bit-vote fingerprint (SimHash core) over a pre-hashed token array: for
  * each bit b < nbits, votes += (bit b of h set ? +1 : -1) over all hashes;
  * the output bit is 1 iff votes > 0. One pass over elements
  * ([[VectorKernels.bitVote]]) called from the codegen'd projection,
  * replacing nbits interpreted `aggregate` folds.
  */
case class BitVoteFingerprint(child: Expression, nbits: Int) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bit_vote expects array<bigint>, got $t")
    }

  override def nullSafeEval(input: Any): Any =
    VectorKernels.bitVote(input.asInstanceOf[ArrayData], nbits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, hs => VectorKernels.call("bitVote", hs, nbits))

  override protected def withNewChildInternal(newChild: Expression): BitVoteFingerprint =
    copy(child = newChild)
}

/** Int8 max-abs quantization of a numeric vector in ONE pass per row:
  * struct(maxabs: max |x_i|; ss: Σ x_i² as a sequential left-fold; q_csv:
  * the quantized vector floor(x·127/maxabs + 0.5) serialized as csv — the
  * canonical cross-engine form, array hashing differs between engines).
  * Replaces four interpreted HOF lambdas (abs-transform, array_max,
  * quantize-transform, aggregate fold) with identical double arithmetic in
  * identical order, so the DuckDB oracle parity is bit-for-bit unchanged.
  * CodegenFallback: one call per row around a tight loop; the surrounding
  * projection stays whole-stage-codegen'd (same trade as ShingleHashes).
  */
case class QuantizeVector(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("maxabs", DoubleType),
    StructField("ss", DoubleType),
    StructField("q_csv", StringType)))
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"quantize_vector expects array<float|double>, got $t")
    }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val isF = CentroidKernel.elemIsFloat(child)
    // empty vector: array_max over an empty array is null in the HOF form;
    // ss (an aggregate fold from 0.0) and q_csv (concat_ws over no
    // elements) are 0.0 / "" there, so only maxabs goes null
    if (n == 0) return InternalRow(null, 0.0, UTF8String.fromString(""))
    // NaN-greatest max, Spark's double ordering (array_max semantics): a
    // NaN component makes maxabs NaN no matter where it sits in the vector
    var maxabs = 0.0
    var i = 0
    while (i < n) {
      val x = if (isF) v.getFloat(i).toDouble else v.getDouble(i)
      val a = math.abs(x)
      if (i == 0 || java.lang.Double.compare(a, maxabs) > 0) maxabs = a
      i += 1
    }
    var ss = 0.0
    val sb = new java.lang.StringBuilder()
    i = 0
    while (i < n) {
      val x = if (isF) v.getFloat(i).toDouble else v.getDouble(i)
      ss += x * x
      // identical order to the HOF form: (x * 127.0 / maxabs) + 0.5;
      // .toLong of a NaN quotient is 0, matching the non-ANSI double→long
      // cast the HOF form applies after floor
      val q = if (maxabs == 0.0) 0L else math.floor(x * 127.0 / maxabs + 0.5).toLong
      if (i > 0) sb.append(',')
      sb.append(q)
      i += 1
    }
    InternalRow(maxabs, ss, UTF8String.fromString(sb.toString))
  }

  override protected def withNewChildInternal(newChild: Expression): QuantizeVector =
    copy(child = newChild)
}

/** Per-language stopword hit counts in ONE tokenize pass per row:
  * struct(hits: array<long> aligned with the given stopword lists;
  * n_tokens: the whitespace token count). Tokenization matches
  * split(lower(text), ' ') exactly (UTF8String lowercase, trailing empties
  * kept). Replaces one interpreted filter-lambda pass PER LANGUAGE with a
  * single loop over tokens probing per-language hash sets.
  */
case class StopwordHits(child: Expression, stopwords: Seq[Seq[String]])
    extends StringKernel("stopword_hits") {

  override def dataType: DataType = StructType(Seq(
    StructField("hits", ArrayType(LongType, containsNull = false)),
    StructField("n_tokens", LongType)))

  @transient private lazy val sets: Array[java.util.HashSet[String]] =
    stopwords.map { ws =>
      val s = new java.util.HashSet[String]()
      ws.foreach(s.add)
      s
    }.toArray

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].toLowerCase.toString.split(" ", -1)
    val hits = new Array[Long](sets.length)
    var i = 0
    while (i < toks.length) {
      var l = 0
      while (l < sets.length) {
        if (sets(l).contains(toks(i))) hits(l) += 1
        l += 1
      }
      i += 1
    }
    InternalRow(new GenericArrayData(hits), toks.length.toLong)
  }

  override protected def withNewChildInternal(newChild: Expression): StopwordHits =
    copy(child = newChild)
}

/** Whitespace and BPE-ish token counts in ONE code-point scan per row:
  * struct(ws_tokens = size(split(text, ' ')) — single-space split with
  * trailing empties kept, i.e. (count of ' ') + 1; bpeish_tokens =
  * size(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]', 0)) — one match
  * per maximal [a-z0-9] run plus one per code point outside [a-z0-9 ]).
  *
  * Replaces the regex-alternation formulation that MATERIALIZED every
  * match string into an array only to take its size: measured at the 50×
  * crossover (250k docs), the regex form held token_count at 4.1 s
  * against a 0.32 s anchor — the one B-family that did not converge —
  * where this scan is branch-per-code-point with zero allocation.
  * Code-point iteration matches Java regex semantics exactly (a negated
  * class consumes one code POINT, so a supplementary char counts once,
  * not twice); counting run STARTS equals counting '[a-z0-9]+' matches
  * because regex alternation can never start an alnum match mid-run
  * (the first branch is greedy over the whole run). Bit-parity with the
  * composed-builtin formulation is pinned in FunctionsSpec, so oracle
  * parity is preserved.
  */
case class TokenCounts(child: Expression)
    extends StringKernel("token_counts") {

  override def dataType: DataType = StructType(Seq(
    StructField("ws_tokens", LongType, nullable = false),
    StructField("bpeish_tokens", LongType, nullable = false)))

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var spaces = 0L
    var runs = 0L
    var others = 0L
    var prevAlnum = false
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val alnum = (cp >= 'a' && cp <= 'z') || (cp >= '0' && cp <= '9')
      if (alnum) { if (!prevAlnum) runs += 1 }
      else if (cp == ' ') spaces += 1
      else others += 1
      prevAlnum = alnum
      i += Character.charCount(cp)
    }
    InternalRow(spaces + 1L, runs + others)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenCounts =
    copy(child = newChild)
}

/** Query-term frequencies + whitespace doc length in ONE allocation-free
  * scan per row: struct(dl = (count of ' ') + 1 ≡ size(split(text, ' '))
  * with trailing empties kept, tf[i] = count of space-delimited tokens
  * byte-equal to terms(i)).
  *
  * The BM25 retrieval kernel (B53/B53c): the composed formulation —
  * split → explode → filter(isin) → groupBy(doc_id, dl, w) — tokenizes
  * the whole corpus into an array per row and SHUFFLES every matched
  * token to count it; at retrieval the counts are per-document facts a
  * single scan can produce, so the shuffle buys nothing. Here each row
  * is one char scan with regionMatches per segment (no substring
  * allocation, no array); the tf frame derives map-side and the only
  * remaining exchanges are the tiny df/stats aggregates. Values are
  * bit-identical to the composed plan (exact token equality, same dl),
  * so the oracle SQL is unchanged — FunctionsSpec pins the parity.
  * CodegenFallback per the D1 convention: one interpreted call per row
  * around a tight loop; the surrounding projection stays codegen'd.
  */
case class TermFrequencies(child: Expression, terms: Seq[String])
    extends StringKernel("term_frequencies") {

  override def dataType: DataType = StructType(Seq(
    StructField("dl", LongType, nullable = false),
    StructField("tf", ArrayType(LongType, containsNull = false), nullable = false)))

  @transient private lazy val termArr: Array[String] = terms.toArray

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val tf = new Array[Long](termArr.length)
    var dl = 1L
    var start = 0
    var i = 0
    val n = s.length
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        val len = i - start
        var t = 0
        while (t < termArr.length) {
          val term = termArr(t)
          if (term.length == len && s.regionMatches(start, term, 0, len)) tf(t) += 1
          t += 1
        }
        if (i < n) dl += 1
        start = i + 1
      }
      i += 1
    }
    InternalRow(dl, new GenericArrayData(tf))
  }

  override protected def withNewChildInternal(newChild: Expression): TermFrequencies =
    copy(child = newChild)
}

/** Per-document token-entropy sufficient statistics in ONE tokenize pass:
  * struct(n_tokens = size(split(text, ' ')) with trailing empties kept,
  * n_distinct = distinct tokens, s = Σ_tok c·ln(c) over per-doc token
  * counts) — everything B8b's Shannon entropy needs, computed row-local.
  *
  * Replaces the explode → groupBy(doc_id, tok) → groupBy(doc_id)
  * formulation: per-doc token counts are per-document FACTS (the same
  * argument as TermFrequencies), so shuffling every distinct (doc, token)
  * string across the cluster to count it buys nothing — measured 4.96×
  * the anchor at the 50× crossover, all exchange. Here the corpus is
  * touched once and NOTHING shuffles (the downstream plan is a pure
  * projection). ln is java.lang.Math.log — the identical function Spark's
  * builtin `log` applies in the plan this replaces — and the Σ c·ln(c)
  * fold order is fixed by the token hash map's deterministic iteration;
  * order-dependent ulp noise sits ~7 orders below the caller's 6 dp
  * rounding step (lmPerplexity's documented float budget). CodegenFallback
  * per the D1 convention: one interpreted call per row around a tight
  * loop; the surrounding projection stays codegen'd.
  */
case class TokenEntropyStats(child: Expression)
    extends StringKernel("token_entropy_stats") {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("s", DoubleType, nullable = false)))

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    val m = new java.util.HashMap[String, Array[Long]](toks.length * 2)
    var i = 0
    while (i < toks.length) {
      val c = m.get(toks(i))
      if (c == null) m.put(toks(i), Array(1L)) else c(0) += 1L
      i += 1
    }
    var s = 0.0
    val it = m.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0)
      if (c > 1) s += c.toDouble * java.lang.Math.log(c.toDouble)
    }
    InternalRow(toks.length.toLong, m.size.toLong, s)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenEntropyStats =
    copy(child = newChild)
}

/** The one n-gram counting loop behind [[NgramCounts]] and
  * [[NgramMultiCounts]]: split(text, ' ') tokens (trailing empties kept),
  * and for one order n the distinct space-joined grams with their
  * within-doc counts, in first-occurrence order. Fewer than n tokens give
  * an empty map.
  */
private[functions] object NgramTally {
  def tokens(input: Any): Array[String] =
    input.asInstanceOf[UTF8String].toString.split(" ", -1)

  def counts(toks: Array[String], n: Int): java.util.LinkedHashMap[String, Array[Long]] = {
    val nGrams = toks.length - n + 1
    val m = new java.util.LinkedHashMap[String, Array[Long]](math.max(nGrams, 0) * 2)
    var i = 0
    while (i < nGrams) {
      val g = if (n == 1) toks(i) else {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        sb.toString
      }
      val c = m.get(g)
      if (c == null) m.put(g, Array(1L)) else c(0) += 1L
      i += 1
    }
    m
  }
}

/** Per-document DISTINCT space-joined word n-grams with within-doc counts
  * in ONE tokenize pass: array<struct(g: string, c: long)> in
  * first-occurrence order, over split(text, ' ') tokens (trailing empties
  * kept). A doc with fewer than n tokens yields an empty array — the same
  * rows the `slice`-based transform produced none for.
  *
  * The B28 collocation kernel: the composed plan exploded one row per
  * n-gram OCCURRENCE (an interpreted transform-lambda building a struct
  * per position) and left the map-side combine to rediscover the within-doc
  * duplicates it just materialized. Per-doc pre-aggregation here shrinks
  * the explode to distinct grams per doc and the exchange to (gram, count)
  * rows; Σ_doc c is the occurrence total bit-for-bit, so corpus-level
  * aggregates — and the oracle SQL — are unchanged. CodegenFallback per
  * the D1 convention.
  */
case class NgramCounts(child: Expression, n: Int)
    extends StringKernel("ngram_counts") {

  require(n >= 1, "ngram_counts: n must be >= 1")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("g", StringType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val m = NgramTally.counts(NgramTally.tokens(input), n)
    val out = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = InternalRow(UTF8String.fromString(e.getKey), e.getValue()(0))
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): NgramCounts =
    copy(child = newChild)
}

/** Per-document distinct n-gram counts for EVERY order 1..maxN in one
  * tokenize pass: array<struct(n: int, g: string, c: long)>, orders
  * ascending, first-occurrence order within an order. For a fixed order n,
  * filtering this array's rows to that order yields exactly
  * [[NgramCounts]](text, n)'s rows — same tokens (split(text, ' '),
  * trailing empties kept), same grams, same counts — pinned by
  * FunctionsSpec.
  *
  * The LM-family kernel (r19, guide §2.4 "share one pass"): lm_perplexity,
  * lm_trigram_ppl and source_lm_divergence each need SEVERAL n-gram orders
  * of the same corpus (model counts n=2 or 3, context/vocab tables n−1 and
  * 1), and each order previously re-tokenized the corpus in its own scan.
  * One multi-order pass feeds every order from a single persisted frame —
  * at any scale that is (orders−1) fewer full corpus passes per query.
  * CodegenFallback per the D1 convention.
  */
case class NgramMultiCounts(child: Expression, maxN: Int)
    extends StringKernel("ngram_multi_counts") {

  require(maxN >= 1, "ngram_multi_counts: maxN must be >= 1")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("g", StringType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val toks = NgramTally.tokens(input)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var n = 1
    while (n <= maxN) {
      val it = NgramTally.counts(toks, n).entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        out += InternalRow(n, UTF8String.fromString(e.getKey), e.getValue()(0))
      }
      n += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): NgramMultiCounts =
    copy(child = newChild)
}

/** The IVF-PQ probe's asymmetric-distance (ADC) scorer (Jégou et al. 2011
  * §IV): approximate cosine of a PQ-coded corpus vector against a query,
  * evaluated as m table lookups per row — the whole point of product
  * quantization at retrieval time: the probe never touches the corpus
  * vectors, only their packed codes.
  *
  *  - `code`  (long column): m codes packed 4-bit little-endian per
  *    subspace, exactly [[graft.ops.Embeddings.pqCode]]'s layout;
  *  - `dotLut` (array<double> column, per QUERY, length m·k): entry
  *    j·k + c = dot(query_j, book_j[c]) / ‖query‖ — the query-side half of
  *    the cosine, built DRIVER-side once per query (m·k = 128 doubles at
  *    the defaults) and shipped on the broadcast probe row;
  *  - `normLut` (expression field, m×k): ‖book_j[c]‖² — query-independent,
  *    so it rides as a literal like the centroid matrices.
  *
  * score = Σ_j dotLut[j·k + code_j] / sqrt(Σ_j normLut[j][code_j]) — the
  * cosine of the query against the code's RECONSTRUCTION, since both the
  * dot product and the reconstruction norm decompose exactly over
  * orthogonal subspaces. A zero reconstruction (all-zero codebook cells)
  * scores 0.0, matching cosine's zero-vector convention. Deterministic:
  * fixed j-order summation of driver-computed doubles. CodegenFallback
  * per the D1 convention (m=8 lookups per row inside one interpreted
  * call; the projection around it stays codegen'd).
  */
case class PqAdcScore(code: Expression, dotLut: Expression,
                      normLut: Seq[Seq[Double]], bitsPerCode: Int)
    extends BinaryExpression with CodegenFallback {

  require(bitsPerCode > 0 && bitsPerCode <= 8, "bitsPerCode must be 1..8")

  override def left: Expression = code
  override def right: Expression = dotLut
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = code.nullable || dotLut.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (code.dataType, dotLut.dataType) match {
      case (LongType, ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (a, b) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pq_adc_score expects (long, array<double>), got ($a, $b)")
    }

  @transient private lazy val norms: Array[Array[Double]] = normLut.map(_.toArray).toArray
  @transient private lazy val k: Int = norms(0).length
  @transient private lazy val mask: Long = (1L << bitsPerCode) - 1L

  override def nullSafeEval(codeAny: Any, lutAny: Any): Any = {
    val packed = codeAny.asInstanceOf[Long]
    val lut = lutAny.asInstanceOf[ArrayData]
    var dot = 0.0; var nrm = 0.0
    var j = 0
    while (j < norms.length) {
      val c = ((packed >>> (bitsPerCode * j)) & mask).toInt
      dot += lut.getDouble(j * k + c)
      nrm += norms(j)(c)
      j += 1
    }
    if (nrm == 0.0) 0.0 else dot / math.sqrt(nrm)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PqAdcScore =
    copy(code = newLeft, dotLut = newRight)
}

/** Every sufficient statistic of the Gopher rule battery (Rae et al. 2021
  * A1.1) in ONE scan per row: struct(n_words, word_chars, n_alpha_words,
  * n_stop_distinct, n_lines, n_bullet_lines, n_ell_end_lines, n_hash,
  * n_ellipsis), all longs.
  *
  * Tokenization (ADVICE r17 #1): words are maximal runs of non-whitespace,
  * whitespace = {' ', '\t', '\n', '\r'} — i.e. list_filter(
  * string_split_regex(text, '[ \t\n\r]'), x -> x <> '') on the oracle side
  * — so tokens no longer fuse across the newlines the line rules target.
  * `word_chars` counts code points over those words (= the code-point
  * length of the text minus its whitespace), matching both engines'
  * `length()`. A word is alphabetic if it contains an ASCII letter
  * (regexp '[A-Za-z]'). Stopword containment is per-word lowercase
  * equality against the battery's fixed list, distinct presence counted
  * once per list entry. Lines are split(text, '\n') with trailing empties
  * kept (n_lines = count('\n') + 1); a bullet line starts with '-', '*'
  * or '•'; an ellipsis-ended line ends with "..." or '…'. n_ellipsis
  * counts non-overlapping "..." left-to-right (⌊run/3⌋ per maximal dot
  * run — exactly what length-delta-of-replace computes) plus '…'
  * occurrences; n_hash counts '#'.
  *
  * Replaces the two interpreted `filter(split(text, …), λ)` HOF passes
  * (words + lines, each materializing the token array) that held
  * `gopher_rules` at 2.31× the anchor at the 50× crossover — VERDICT r17
  * weak #2. CodegenFallback per the D1 convention: one interpreted call
  * per row around a tight char loop; the surrounding projection stays
  * whole-stage-codegen'd. Bit-parity with the composed-builtin
  * formulation is pinned in FunctionsSpec.
  */
case class GopherStats(child: Expression, stopwords: Seq[String])
    extends StringKernel("gopher_stats") {

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("word_chars", LongType, nullable = false),
    StructField("n_alpha_words", LongType, nullable = false),
    StructField("n_stop_distinct", LongType, nullable = false),
    StructField("n_lines", LongType, nullable = false),
    StructField("n_bullet_lines", LongType, nullable = false),
    StructField("n_ell_end_lines", LongType, nullable = false),
    StructField("n_hash", LongType, nullable = false),
    StructField("n_ellipsis", LongType, nullable = false)))

  @transient private lazy val stopArr: Array[String] =
    stopwords.map(_.toLowerCase(java.util.Locale.ROOT)).toArray
  @transient private lazy val maxStopLen: Int =
    if (stopArr.isEmpty) 0 else stopArr.map(_.length).max

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val n = s.length
    var nWords = 0L; var wordChars = 0L; var nAlpha = 0L
    var nHash = 0L; var nEll = 0L
    var dotRun = 0
    val stopSeen = new Array[Boolean](stopArr.length)
    // current-word state: full UTF-16 length, code-point count, alpha flag,
    // and the first maxStopLen chars (enough for any stopword candidate)
    var wLen = 0; var wCp = 0L; var wAlpha = false
    val wBuf = new Array[Char](math.max(maxStopLen, 1))
    def closeWord(): Unit = if (wLen > 0) {
      nWords += 1; wordChars += wCp
      if (wAlpha) nAlpha += 1
      if (wLen <= maxStopLen) {
        var l = 0
        while (l < stopArr.length) {
          if (!stopSeen(l) && stopArr(l).length == wLen) {
            var j = 0; var ok = true
            while (ok && j < wLen) {
              if (Character.toLowerCase(wBuf(j)) != stopArr(l).charAt(j)) ok = false
              j += 1
            }
            if (ok) stopSeen(l) = true
          }
          l += 1
        }
      }
      wLen = 0; wCp = 0L; wAlpha = false
    }
    var i = 0
    while (i < n) {
      val ch = s.charAt(i)
      if (ch == ' ' || ch == '\t' || ch == '\n' || ch == '\r') closeWord()
      else {
        if (!Character.isLowSurrogate(ch)) wCp += 1
        if (wLen < wBuf.length) wBuf(wLen) = ch
        wLen += 1
        if ((ch >= 'A' && ch <= 'Z') || (ch >= 'a' && ch <= 'z')) wAlpha = true
      }
      if (ch == '#') nHash += 1
      if (ch == '.') dotRun += 1
      else { nEll += dotRun / 3; dotRun = 0 }
      if (ch == '…') nEll += 1
      i += 1
    }
    closeWord()
    nEll += dotRun / 3
    var nStop = 0L
    var l = 0
    while (l < stopSeen.length) { if (stopSeen(l)) nStop += 1; l += 1 }
    // line pass over the same in-memory string: [ls, k) per segment,
    // closing the final (possibly empty) segment at k == n like split's
    // keep-trailing-empties semantics
    var nLines = 0L; var nBullet = 0L; var nEllEnd = 0L
    var ls = 0; var k = 0
    while (k <= n) {
      if (k == n || s.charAt(k) == '\n') {
        nLines += 1
        if (k > ls) {
          val first = s.charAt(ls)
          if (first == '-' || first == '*' || first == '•') nBullet += 1
          val last = s.charAt(k - 1)
          if (last == '…' ||
              (k - ls >= 3 && last == '.' &&
                s.charAt(k - 2) == '.' && s.charAt(k - 3) == '.')) nEllEnd += 1
        }
        ls = k + 1
      }
      k += 1
    }
    InternalRow(nWords, wordChars, nAlpha, nStop, nLines, nBullet, nEllEnd,
      nHash, nEll)
  }

  override protected def withNewChildInternal(newChild: Expression): GopherStats =
    copy(child = newChild)
}

/** The token k-shingles of [[ShingleHashes]] and [[PositionalShingleHashes]]:
  * over n split(text, ' ') tokens there are max(n − k + 1, 1) of them (a
  * doc shorter than k is its one whole-text shingle), shingle i being
  * tokens i until min(i + k, n) joined by single spaces.
  */
private[functions] object Shingles {
  def count(n: Int, k: Int): Int = math.max(n - k + 1, 1)

  def at(toks: Array[String], i: Int, k: Int): String = {
    val end = math.min(i + k, toks.length)
    val sb = new java.lang.StringBuilder()
    var j = i
    while (j < end) { if (j > i) sb.append(' '); sb.append(toks(j)); j += 1 }
    sb.toString
  }
}

/** Distinct token k-shingles of a text, hashed, in ONE pass per row:
  * tokenize on single spaces (split(text, ' ') semantics, trailing empties
  * kept), emit max(n-k+1, 1) shingles joined by ' ', de-duplicate
  * (first-occurrence order, matching array_distinct / list_distinct), and
  * hash each shingle once: h24 = the first 6 hex chars of md5(shingle) as
  * a number — DuckDB's ('0x'||substr(md5(x),1,6))::BIGINT — and hv = the
  * first 15 hex chars (60 bits) the same way, both from one digest.
  *
  * The composed builtin formulation (transform over a generated sequence of
  * concat_ws slices, then a second transform applying the hash) evaluates
  * interpreted lambdas per shingle per pass; this runs the identical string
  * math in a tight JVM loop per ROW. CodegenFallback: one interpreted call
  * per row is noise next to ~10² digests computed inside it, and the
  * surrounding projection stays whole-stage-codegen'd.
  */
case class ShingleHashes(child: Expression, k: Int)
    extends StringKernel("shingle_hashes") {

  override def dataType: DataType = StructType(Seq(
    StructField("h24", ArrayType(LongType, containsNull = false)),
    StructField("hv", ArrayType(LongType, containsNull = false))))

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    val m = Shingles.count(toks.length, k)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < m) { seen.add(Shingles.at(toks, i, k)); i += 1 }
    val h24 = new Array[Long](seen.size)
    val hv = new Array[Long](seen.size)
    val it = seen.iterator()
    var idx = 0
    while (it.hasNext) {
      val bytes = it.next().getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val d = Md5Prefix.digest(bytes)
      h24(idx) = Md5Prefix.hash24(d)
      hv(idx) = Md5Prefix.hash60(d)
      idx += 1
    }
    InternalRow(new GenericArrayData(h24), new GenericArrayData(hv))
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** POSITIONAL sibling of [[ShingleHashes]] for span-level operators:
  * element i of the result is the 60-bit hv hash of the k-token shingle
  * STARTING at token i (0-based), duplicates preserved and positions
  * aligned — ShingleHashes dedups per doc, which is right for set
  * similarity but destroys the position→shingle mapping span trimming
  * needs. A doc shorter than k contributes its whole text as the one
  * element (same clamp as ShingleHashes; DuckDB mirrors it with an
  * inclusive slice that clamps). Identical digest math: first 15 hex
  * chars of md5 as a 60-bit long.
  */
case class PositionalShingleHashes(child: Expression, k: Int)
    extends StringKernel("positional_shingle_hashes") {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    val m = Shingles.count(toks.length, k)
    val hv = new Array[Long](m)
    var i = 0
    while (i < m) {
      val bytes = Shingles.at(toks, i, k).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      hv(i) = Md5Prefix.hash60(Md5Prefix.digest(bytes))
      i += 1
    }
    new GenericArrayData(hv)
  }

  override protected def withNewChildInternal(newChild: Expression): PositionalShingleHashes =
    copy(child = newChild)
}

/** Raw-deflate compressed byte length of a string's UTF-8 bytes at a fixed
  * zlib level — the compressibility quality signal (repetitive/templated
  * text deflates far below natural prose). Runs the whole Deflater
  * lifecycle inside one eval (no per-row allocation escapes); `nowrap`
  * raw-deflate output, so the count is pure compressed payload with no
  * zlib header/checksum framing. Deterministic for a given level and
  * input on a given JVM's zlib — which is why the consuming operator is
  * registered rows-only with an in-JVM replay spec, not a cross-engine
  * oracle.
  */
case class DeflatedSize(child: Expression, level: Int)
    extends StringKernel("deflated_size") {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val d = new java.util.zip.Deflater(level, true)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }

  override protected def withNewChildInternal(newChild: Expression): DeflatedSize =
    copy(child = newChild)
}
