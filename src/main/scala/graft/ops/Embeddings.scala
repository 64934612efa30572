package graft.ops

import graft.{Caches, Tables}
import graft.functions.CentroidKernel
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding storage operators (SURVEY.md §2 B18): per-vector max-abs int8
  * quantization — the standard 4× storage/bandwidth reduction applied before
  * a 100 TB embedding corpus is written or served. Pure per-row projection:
  * zero shuffle, runs at parquet scan speed on any cluster size.
  */
object Embeddings {

  private def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Quantize a double-array column to int8 with a per-vector max-abs scale.
    * Rounding is `floor(x * 127 / maxabs + 0.5)` — explicit half-up, chosen
    * over `round` because engines disagree on half-even vs half-away ties;
    * this exact formula is replayed by the DuckDB oracle. Zero vectors
    * quantize to zeros (scale 0).
    *
    * Equivalence witness for the codegen'd QuantizeVector (FunctionsSpec
    * pins expr ≡ this formulation). NOT for hot paths: `maxabs` sits inside
    * the quantize lambda, and interpreted HOF lambdas get no common-
    * subexpression elimination, so it re-reduces the vector once PER
    * ELEMENT — O(n²). [[quantize]] hoists it into a projected column.
    */
  def quantizeCols(v: Column): (Column, Column) = {
    val maxabs = array_max(transform(v, x => abs(x)))
    val q = transform(v, x =>
      when(maxabs === 0.0, lit(0L))
        .otherwise(floor(x * lit(127.0) / maxabs + lit(0.5)).cast("long")))
    (maxabs / lit(127.0), q)
  }

  /** Library form: embeddings with an int8 (tinyint) payload + scale, the
    * columns a production write would persist. Dequantization is
    * `q * scale`. The max-abs reduce is projected BEFORE the quantize
    * lambda references it, so it runs once per vector, not once per
    * element (see [[quantizeCols]]).
    */
  def quantize(df: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val vd = "__graft_vd"
    val ma = "__graft_maxabs"
    df.withColumn(vd, asDouble(col(vecCol)))
      .withColumn(ma, array_max(transform(col(vd), x => abs(x))))
      .withColumn("scale", col(ma) / lit(127.0))
      .withColumn("q", transform(col(vd), x =>
        when(col(ma) === 0.0, lit(0L))
          .otherwise(floor(x * lit(127.0) / col(ma) + lit(0.5)).cast("long"))
          .cast("byte")))
      .drop(vd, ma)
  }

  /** B18b — MATRYOSHKA truncation fidelity: per prefix length d, how much
    * of each vector's norm the first d dimensions carry —
    * `||x[1:d]|| / ||x||`, which IS `cos(x, truncate(x))`, the exact
    * retrieval-fidelity loss of serving truncated embeddings. MRL-trained
    * embeddings front-load signal so a d≪dim prefix preserves ranking at a
    * fraction of the storage/bandwidth — THE cheapest ANN scale lever
    * (truncate 64→16 dims = 4× less to scan) — and this report says
    * whether a given embedding column has that property before you bet an
    * index on it (B5e bets on it per-query and re-ranks exactly).
    *
    * One scan: the dims explode is a 3-literal array, per-row arithmetic
    * only, one tiny groupBy. Mean accumulates the 6-dp per-vector
    * fidelities in DECIMAL so the oracle lands on identical bits.
    */
  def matryoshkaFidelity(spark: SparkSession, dir: String,
                         dims: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    val fid = Tables.embeddings(spark, dir)
      .withColumn("v", asDouble(col("embedding")))
      .withColumn("trunc_dim", explode(lit(dims.toArray)))
      .select(col("trunc_dim").cast("long").as("trunc_dim"),
        round(
          sqrt(aggregate(slice(col("v"), lit(1), col("trunc_dim")),
            lit(0.0), (acc, x) => acc + x * x)) /
            sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x)),
          6).as("fid"))
    fid.groupBy(col("trunc_dim"))
      .agg(
        count(lit(1)).cast("long").as("n_vecs"),
        round(sum(col("fid").cast("decimal(18,6)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_fidelity"),
        min(col("fid")).as("min_fidelity"))
      .orderBy("trunc_dim")
  }

  /** B18c (r17) — PRODUCT quantization: the compression that makes
    * billion-scale ANN storable at all (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search" — the FAISS default).
    * Split each dim-d vector into `m` subvectors, learn a k-centroid
    * codebook per subspace (the SAME deterministic fixed-iteration k-means
    * the IVF index uses — seeds are the lowest vec_ids, means round to
    * 6 dp, so codebooks are bit-stable across runs and engines), and store
    * each vector as m ⌈log₂k⌉-bit codes. At the defaults (m=8, k=16,
    * d=64) a 256-byte float vector packs into ONE 32-bit code word —
    * 64× — and the packed long column here IS that storage form. Distance
    * evaluation against PQ codes is table lookups; this operator ships
    * the storage+fidelity half (codebooks, codes, per-vector
    * reconstruction cosine) that decides whether a corpus can afford the
    * compression — B18b answers the same question for truncation, B18 for
    * scalar int8.
    *
    * Scale shapes: codebook learning is m small k-means runs over SLICED
    * subvectors (the persisted corpus frame feeds all m — each run's
    * per-iteration job is one map-side-combined partial collect, never a
    * row collect); encoding + reconstruction are pure projections — the
    * per-subspace nearest-centroid probe is the codegen'd NearestCentroid
    * kernel with the codebook riding as an expression field, and the
    * reconstruction cosine evaluates against `element_at` on a KB
    * codebook literal. Zero shuffle after learning; the verification-only
    * ORDER BY is the output contract.
    *
    * Spec-verified (AnnSpec): code range/packing round-trip, bit-exact
    * determinism across independent runs, fidelity floor on the isotropic
    * gate corpus, and monotonicity in k. Not registered as a query: the
    * m×iters k-means replay has no tractable SQL oracle (ann_ivf_topk
    * already hash-verifies the shared k-means through its replayed
    * pipeline), and unlike B61's GD loop the interesting outputs here are
    * arrays — the spec's in-JVM replay is the stronger check.
    */
  def pqCodebooks(emb: DataFrame, m: Int = 8, k: Int = 16, dim: Int = 64,
                  iters: Int = 2): Array[Array[Array[Double]]] = {
    val sub = dim / m
    require(m * sub == dim, s"m=$m must divide dim=$dim")
    require(k >= 1 && k <= 16, "k must fit a 4-bit code (1..16)")
    fusedKmeans(emb, (0 until m).map(j => KmeansSpec(j * sub, sub, k)), iters)
  }

  /** One learner of [[fusedKmeans]]: k centroids over the subvector
    * [start, start+len). `fullRow` marks a learner whose input is the
    * WHOLE row (start must be 0): seeds are untruncated and a row is
    * assigned only when its full length matches the centroid dimension —
    * exactly `Similarity.ivfCentroids`' contract, where slice learners
    * replicate the sliced frame's cosines-null contract instead.
    */
  private[graft] final case class KmeansSpec(start: Int, len: Int, k: Int,
                                             fullRow: Boolean = false) {
    require(!fullRow || start == 0, "fullRow learners start at 0")
  }

  /** Above this many input partitions the per-iteration partials are
    * merged EXECUTOR-side instead of `collect()`ed to the driver (guide
    * §5: the driver should do almost no data work). The driver payload of
    * the collect path is partitions × Σ learner(k) × (dim doubles + dim
    * longs) — pennies on a 32-core local session, GBs per iteration at
    * 100 TB partition counts (10⁵–10⁶). The bound keeps the cheap
    * single-job shape exactly where it is cheap (the collect never
    * exceeds KmeansCollectMax × models). AnnSpec pins the two paths
    * bit-identical through [[fusedKmeans]]' `collectMax` parameter, so the
    * switch is a pure execution-strategy choice, never a semantic one.
    */
  private[graft] val KmeansCollectMax = 64

  /** FUSED multi-learner k-means (r18): learn SEVERAL fixed-iteration
    * cosine k-means models over (slices of) the same embedding frame in
    * ONE job chain — one seed fetch + ONE mapPartitions pass per
    * iteration accumulating every learner's (cell → component sums,
    * counts) partials at once — instead of one (1 + iters)-job
    * `ivfCentroids` chain per learner (m×(1+iters) jobs, 24 at the PQ
    * defaults; measured as the job-floor wall behind ann_pq_build, and
    * m× redundant corpus passes at any scale). BIT-IDENTICAL per learner
    * to an independent `ivfCentroids` run over the equivalent frame
    * (AnnSpec pins both the sliced and the fullRow form): same seeds
    * (the k lowest vec_ids), the per-row assignment of NearestCentroid
    * itself (CentroidKernel.cosines over the row's slice as doubles, then
    * CentroidKernel.argmax: Double.compare, ties → higher idx; dimension
    * mismatch → row skipped for that learner), same ascending-partition
    * merge order, same HALF_UP 6-dp rounding, same empty-cell anchor keep.
    * The input is persisted for the seed fetch and the iterations unless
    * the caller cached it, and released before the arrays return
    * (Caches.persisted).
    *
    * r19 (guide §5, VERDICT r18 #3): the per-iteration merge of
    * per-partition partials is O(partitions) driver traffic only below
    * `collectMax` partitions; above it the partials shuffle to an
    * executor-side merge keyed on (learner, cell) and SORTED by source
    * partition id, so each key's sums fold in the SAME ascending-
    * partition order the driver loop used — bit-identical totals (each
    * key's accumulator only ever saw its own partials in partition
    * order), O(dim) memory per reduce task, and the driver receives one
    * row per (learner, cell) regardless of partition count.
    */
  private[graft] def fusedKmeans(input: DataFrame, specs: Seq[KmeansSpec],
                                 iters: Int,
                                 collectMax: Int = KmeansCollectMax): Array[Array[Array[Double]]] = {
    require(specs.nonEmpty, "at least one learner")
    Caches.persisted(input) { emb => Similarity.withoutAqe(emb.sparkSession) {
      val sp = specs.toArray
      val seeds: Array[Seq[Float]] = emb.orderBy("vec_id").limit(sp.map(_.k).max)
        .select("embedding").collect().map(_.getSeq[Float](0))
      var models: Array[Array[Array[Double]]] = sp.map { s =>
        seeds.take(s.k).map { v =>
          (if (s.fullRow) v
           else v.slice(s.start, math.min(s.start + s.len, v.length)))
            .toArray.map(_.toDouble)
        }
      }
      for (_ <- 0 until iters) {
        val cur = models
        val partialsRdd = emb.select(col("embedding")).rdd.mapPartitions { rows =>
          // accumulators truncate at min(centroid dim, spec len) — equal in
          // every non-degenerate case; mirrors ivfCentroids' dim-capped
          // accumulation when seeds are over-length
          def accLen(j: Int): Int = {
            val dj = if (cur(j).nonEmpty) cur(j)(0).length else 0
            math.min(dj, sp(j).len)
          }
          val sums = Array.tabulate(cur.length)(j =>
            Array.fill(cur(j).length)(new Array[Double](accLen(j))))
          val cnts = Array.tabulate(cur.length)(j =>
            Array.fill(cur(j).length)(new Array[Long](accLen(j))))
          val seen = Array.tabulate(cur.length)(j => new Array[Boolean](cur(j).length))
          // per-learner buffers reused row to row: the row's slice as
          // doubles, and its cosine against each centroid
          val xs = Array.tabulate(cur.length)(j =>
            new Array[Double](if (cur(j).nonEmpty) cur(j)(0).length else 0))
          val cos = Array.tabulate(cur.length)(j => new Array[Double](cur(j).length))
          rows.foreach { r =>
            if (!r.isNullAt(0)) {
              val vec = r.getSeq[Float](0)
              var j = 0
              while (j < cur.length) {
                val kj = cur(j).length
                val dj = if (kj > 0) cur(j)(0).length else 0
                val start = sp(j).start
                // assignment only on exact dimension match — the
                // cosines-null contract of the formulation each learner
                // replaces (fullRow: the whole-row length; slice: the
                // slice's length)
                val matches =
                  if (sp(j).fullRow) vec.length == dj
                  else math.max(0,
                    math.min(vec.length, start + sp(j).len) - start) == dj
                if (kj > 0 && dj > 0 && matches) {
                  val x = xs(j)
                  var i = 0
                  while (i < dj) { x(i) = vec(start + i).toDouble; i += 1 }
                  CentroidKernel.cosines(x, cur(j), cos(j))
                  val best = CentroidKernel.argmax(cos(j))
                  seen(j)(best) = true
                  val n = accLen(j)
                  var i3 = 0
                  while (i3 < n) {
                    sums(j)(best)(i3) += x(i3); cnts(j)(best)(i3) += 1L; i3 += 1
                  }
                }
                j += 1
              }
            }
          }
          (0 until cur.length).iterator.flatMap { j =>
            seen(j).indices.iterator.filter(seen(j)).map(c =>
              (j, c, sums(j)(c), cnts(j)(c)))
          }
        }
        // Merge partials per (learner, cell), folding each key's sums in
        // ascending source-partition order from a zero accumulator. Below
        // the collect bound this is the one-job driver merge (collect()
        // returns partition order; each key's accumulator only ever sees
        // its own partials); above it the identical fold runs executor-
        // side after a (learner, cell)-partitioned, partition-id-sorted
        // shuffle — bit-identical by construction, pinned by AnnSpec.
        val partials: Array[(Int, Int, Array[Double], Array[Long])] =
          if (partialsRdd.getNumPartitions <= collectMax) partialsRdd.collect()
          else {
            val keyed = partialsRdd.mapPartitionsWithIndex { (pid, it) =>
              it.map { case (j, c, s, n) => ((j, c, pid), (s, n)) }
            }
            val nKeys = sp.map(_.k).sum
            // plain Int captured by the partitioner — referencing the
            // DataFrame inside the anonymous class would drag it into the
            // task closure
            val nReduce = math.max(1,
              math.min(nKeys, emb.sparkSession.sparkContext.defaultParallelism))
            val partitioner = new org.apache.spark.Partitioner {
              override def numPartitions: Int = nReduce
              override def getPartition(key: Any): Int = {
                val k = key.asInstanceOf[(Int, Int, Int)]
                java.lang.Math.floorMod((k._1, k._2).hashCode, nReduce)
              }
            }
            keyed.repartitionAndSortWithinPartitions(partitioner)
              .mapPartitions { it =>
                val out = scala.collection.mutable.ArrayBuffer
                  .empty[(Int, Int, Array[Double], Array[Long])]
                var curJ = -1; var curC = -1
                var accS: Array[Double] = null
                var accN: Array[Long] = null
                def flush(): Unit =
                  if (curJ >= 0) { out += ((curJ, curC, accS, accN)); () }
                it.foreach { case ((j, c, _), (s, n)) =>
                  if (j != curJ || c != curC) {
                    flush()
                    curJ = j; curC = c
                    accS = new Array[Double](s.length)
                    accN = new Array[Long](n.length)
                  }
                  assert(s.length == accS.length && n.length == accN.length,
                    s"k-means partial of learner $j cell $c has ${s.length}/${n.length} " +
                      s"components, its accumulator ${accS.length}/${accN.length}")
                  var i = 0
                  while (i < s.length) { accS(i) += s(i); accN(i) += n(i); i += 1 }
                }
                flush()
                out.iterator
              }.collect()
          }
        val totS = Array.tabulate(sp.length)(j =>
          Array.fill(cur(j).length)(new Array[Double](sp(j).len)))
        val totN = Array.tabulate(sp.length)(j =>
          Array.fill(cur(j).length)(new Array[Long](sp(j).len)))
        partials.foreach { case (j, cell, s, n) =>
          var i = 0
          while (i < s.length) { totS(j)(cell)(i) += s(i); totN(j)(cell)(i) += n(i); i += 1 }
        }
        models = Array.tabulate(sp.length) { j =>
          val c0 = cur(j)
          c0.indices.map { cell =>
            val nz = math.min(c0(cell).length, sp(j).len)
            if ((0 until nz).forall(totN(j)(cell)(_) == 0L)) c0(cell)
            else Array.tabulate(nz)(i =>
              if (totN(j)(cell)(i) == 0L) c0(cell)(i)
              else java.math.BigDecimal.valueOf(totS(j)(cell)(i) / totN(j)(cell)(i))
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
          }.toArray
        }
      }
      models
    }}
  }

  /** Packed PQ code column for `vec` under a learned codebook set: m codes,
    * 4 bits each, little-endian by subspace — the storage layout
    * [[graft.functions.PqAdcScore]] unpacks at probe time. Each code is the
    * codegen'd NearestCentroid probe over the subspace slice, so encoding
    * is a pure projection (zero shuffle) with the KB codebooks riding as
    * expression fields.
    */
  def pqCode(vec: Column, books: Array[Array[Array[Double]]], dim: Int): Column = {
    val m = books.length
    val sub = dim / m
    (0 until m).map { j =>
      shiftleft(graft.functions.VectorExpressions.nearestCentroid(
        slice(vec, j * sub + 1, sub), books(j)).cast("long"), 4 * j)
    }.reduce(_ bitwiseOR _)
  }

  /** Cosine of `vec` against its PQ reconstruction under `books`, rounded
    * 6 dp — the per-vector fidelity statistic. Pure projection: codegen'd
    * NearestCentroid per subspace + element_at on the KB codebook literal.
    * Shared by [[pqFidelityOf]] and the maintained index's per-row
    * fidelity column (Similarity.buildIvfPqIndex / ivfIndexAppend), so
    * the staleness signal B5h aggregates is bit-identical to B18c's
    * fidelity report.
    */
  def pqReconCos(vec: Column, books: Array[Array[Array[Double]]],
                 dim: Int): Column = {
    val m = books.length
    val sub = dim / m
    val codes = (0 until m).map { j =>
      graft.functions.VectorExpressions.nearestCentroid(
        slice(vec, j * sub + 1, sub), books(j)) }
    val recon = concat((0 until m).map { j =>
      element_at(typedLit(books(j).map(_.toSeq).toSeq), codes(j) + 1) }: _*)
    round(graft.functions.VectorExpressions.cosine(asDouble(vec), recon), 6)
  }

  /** Encode + fidelity over a learned codebook set: (vec_id, pq_code
    * packed 4-bit little-endian per subspace, recon_cos = cosine of the
    * vector against its codebook reconstruction, rounded 6 dp).
    */
  def pqFidelityOf(emb: DataFrame, m: Int = 8, k: Int = 16,
                   dim: Int = 64): DataFrame = {
    val books = pqCodebooks(emb, m, k, dim)
    emb.select(col("vec_id"),
        pqCode(col("embedding"), books, dim).as("pq_code"),
        pqReconCos(col("embedding"), books, dim).as("recon_cos"))
      .orderBy("vec_id")
  }

  /** [[pqFidelityOf]] over the corpus embeddings table. */
  def pqFidelity(spark: SparkSession, dir: String, m: Int = 8, k: Int = 16,
                 dim: Int = 64): DataFrame =
    pqFidelityOf(Tables.embeddings(spark, dir), m, k, dim)

  /** B18 (registered, oracle-portable) — quantization summary per vector:
    * the scale factor, the l2 norm, and the quantized vector serialized as a
    * csv string (arrays hash engine-differently in the parity gate; the
    * string form is canonical). One codegen'd QuantizeVector pass per row —
    * the HOF formulation in [[quantizeCols]] evaluates four interpreted
    * lambda passes per vector — with identical arithmetic order, so the
    * oracle hash is unchanged. Registered as `embedding_quantize`.
    */
  def quantizeSummary(spark: SparkSession, dir: String): DataFrame = {
    val qz = graft.functions.VectorExpressions.quantizeVector(col("embedding"))
    Tables.embeddings(spark, dir)
      .withColumn("qz", qz)
      .select(
        col("vec_id"),
        col("label"),
        round(col("qz.maxabs") / lit(127.0), 6).as("scale"),
        round(sqrt(col("qz.ss")), 6).as("l2_norm"),
        col("qz.q_csv").as("q_csv"))
      .orderBy("vec_id")
  }

  /** B38 — per-label prototype (mean) embeddings, the supervised
    * embedding-space diagnostic a labeled corpus runs before training:
    * class prototypes feed nearest-prototype QA ([[prototypeAssign]]),
    * outlier screens, and per-class drift monitoring. Emitted in exploded
    * long form (label, pos, m, n_vecs) — one scalar row per component —
    * because array columns hash engine-differently in the parity gate
    * (same canonicalization choice as quantizeSummary's q_csv).
    *
    * Scale shape: posexplode is a narrow pass; the groupBy keys on
    * (label, component) — labels×dim rows total, partial-aggregated
    * map-side, so a billion-vector class shuffles one row per mapper per
    * component. `pos` is 1-based to mirror the oracle's generate_series.
    */
  def labelPrototypes(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(asDouble(col("embedding"))).as(Seq("pos0", "x")))
      .groupBy(col("label"), (col("pos0") + 1).as("pos"))
      .agg(round(avg(col("x")), 6).as("m"), count(lit(1)).as("n_vecs"))
      .orderBy("label", "pos")

  /** Spark's round(x, 6) semantics on the driver: java.math.BigDecimal
    * HALF_UP — the exact code path Catalyst's Round takes for doubles, so
    * driver-side PCA math rounds bit-identically to an in-plan round(·, 6)
    * (which the board's oracles already match against DuckDB's round).
    */
  private def round6(x: Double): Double =
    new java.math.BigDecimal(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** B47 — top-2 principal components of the embedding corpus by a
    * DETERMINISTIC fixed-iteration power method, plus every vector's
    * centered projection onto them — the embedding-space QA map (cluster
    * structure, batch effects, collapsed dimensions) a pipeline draws
    * before committing to an embedding model, and the first step of
    * PCA whitening. Like the 2-iteration k-means (ivfCentroids), the
    * output is the FIXED-STEP iterate, reproducible bit-for-bit across
    * engines — a diagnostic contract, not a converged eigensolver — though at 40
    * steps the rounded iterate has FIXED (updates fall under the 6-dp
    * grid), so extra steps are no-ops and the output is stable in iters).
    *
    * Determinism discipline (what makes the DuckDB oracle exact): means
    * and covariance entries round to 6 dp; each iteration rounds the
    * normalized vector to 6 dp; λ = vᵀCv rounds to 6 dp; the deflation
    * C₂ = round₆(C − λ·vᵢ·vⱼ) operates on already-rounded inputs so both
    * engines see identical bits. Unrounded intermediate sums differ only
    * by summation order (~1e-13 absolute — 7 orders under the 5e-7
    * rounding half-step; lmPerplexity's budget argument).
    *
    * Scale shape: the moment pass is ONE narrow `treeAggregate` over the
    * corpus with a fixed-size dense accumulator (dim + dim² doubles ≈
    * 33 KB at dim 64) — zero shuffle, partials combine on executors
    * (depth-2 tree), the same pattern MLlib's RowMatrix.computeCovariance
    * ships; the Catalyst alternative (posexplode self-join) shuffles the
    * 64×-exploded corpus to meet itself. RDD use is justified the same
    * way BPE's merge loop is: a driver-iterative fixed-size accumulation
    * Catalyst can only express by materializing n·dim² rows. The power
    * iteration runs on the driver over the 64×64 matrix (bounded by
    * construction — the IVF-centroid collect contract); the projection is
    * one codegen'd ProjectVector pass at scan speed.
    */
  def embeddingPca(spark: SparkSession, dir: String, iters: Int = 40,
                   dim: Int = 64): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // --- moment pass: n, Σx, ΣxxT in one narrow aggregation ---------------
    val (n, sumX, sumXX) = emb.select(asDouble(col("embedding")).as("v"))
      .rdd.map(_.getSeq[Double](0))
      .treeAggregate((0L, new Array[Double](dim), new Array[Double](dim * dim)))(
        seqOp = { case ((cnt, s, ss), v) =>
          require(v.length == dim, s"expected $dim-dim embedding, got ${v.length}")
          var i = 0
          while (i < dim) {
            s(i) += v(i)
            var j = 0
            val base = i * dim
            while (j < dim) { ss(base + j) += v(i) * v(j); j += 1 }
            i += 1
          }
          (cnt + 1, s, ss)
        },
        combOp = { case ((c1, s1, ss1), (c2, s2, ss2)) =>
          var i = 0
          while (i < dim) { s1(i) += s2(i); i += 1 }
          i = 0
          while (i < dim * dim) { ss1(i) += ss2(i); i += 1 }
          (c1 + c2, s1, ss1)
        })
    require(n > 0, s"no embeddings under $dir")
    val mu = Array.tabulate(dim)(i => round6(sumX(i) / n))
    val cov = Array.tabulate(dim, dim)((i, j) =>
      round6(sumXX(i * dim + j) / n - mu(i) * mu(j)))
    // --- fixed-step power iteration + one deflation, all on rounded grids --
    def powerIter(c: Array[Array[Double]]): (Array[Double], Double) = {
      var v = Array.fill(dim)(round6(1.0 / math.sqrt(dim.toDouble)))
      for (_ <- 1 to iters) {
        val w = Array.tabulate(dim) { i =>
          var dot = 0.0; var j = 0
          while (j < dim) { dot += c(i)(j) * v(j); j += 1 }
          dot
        }
        var nsq = 0.0
        var i = 0
        while (i < dim) { nsq += w(i) * w(i); i += 1 }
        val nrm = math.sqrt(nsq)
        require(nrm > 0, "zero matrix-vector product — degenerate covariance; PCA undefined")
        v = w.map(x => round6(x / nrm))
      }
      var lambda = 0.0
      for (i <- 0 until dim; j <- 0 until dim) lambda += v(i) * c(i)(j) * v(j)
      (v, round6(lambda))
    }
    val (v1, l1) = powerIter(cov)
    val cov2 = Array.tabulate(dim, dim)((i, j) => round6(cov(i)(j) - l1 * v1(i) * v1(j)))
    val (v2, _) = powerIter(cov2)
    val proj = graft.functions.VectorExpressions
      .projectVector(col("embedding"), Array(v1, v2), mu)
    emb.select(col("vec_id"), col("label"), proj.as("p"))
      .select(col("vec_id"), col("label"),
        round(element_at(col("p"), 1), 6).as("p1"),
        round(element_at(col("p"), 2), 6).as("p2"))
      .orderBy("vec_id")
  }

  /** B38b — nearest-prototype assignment + confusion counts: every vector
    * assigned to its max-cosine class prototype (ties → higher label,
    * mirroring NearestCentroid's higher-index rule), aggregated to the
    * (label, assigned) confusion matrix — the cluster-purity answer to
    * "do the embeddings separate the classes?".
    *
    * The prototype matrix is labels×dim (KBs regardless of corpus size —
    * same driver-bounded-collect contract as the IVF centroids) and rides
    * the codegen'd NearestCentroid expression; component means round to 6
    * decimals exactly as ivfCentroids' means do, so the DuckDB oracle
    * rebuilds bit-identical prototypes in SQL. The corpus pass is one
    * narrow assignment + a labels²-key partial-aggregated groupBy.
    */
  def prototypeAssign(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // driver-side prototype build FROM labelPrototypes — the one aggregation
    // both diagnostics share, so assignment can never drift from the
    // published prototype table (its round-6 means are already the ones the
    // oracle rebuilds). Labels sorted ascending = matrix index order, so
    // NearestCentroid's higher-index tie rule is higher-label.
    val protoRows = labelPrototypes(spark, dir)
      .select(col("label"), col("pos"), col("m"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    val labels = protoRows.map(_._1).distinct.sorted
    val protos: Array[Array[Double]] = labels.map { lb =>
      protoRows.filter(_._1 == lb).sortBy(_._2).map(_._3)
    }.toArray
    val labelOf = typedlit(labels.toSeq)
    emb.select(col("label"),
        graft.functions.VectorExpressions.nearestCentroid(col("embedding"), protos).as("idx"))
      .select(col("label"), element_at(labelOf, col("idx") + 1).as("assigned"))
      .groupBy("label", "assigned").agg(count(lit(1)).as("n"))
      .orderBy("label", "assigned")
  }

  /** B63 — per-label embedding shape-outlier report: n, the mean L2 norm
    * (the normalization check — unit-normalized shards read exactly 1.0),
    * mean and stddev of the PEAK component magnitude, and how many vectors
    * sit more than `zThresh` standard deviations from their label's mean
    * peak — the cheap corruption screen an embedding pipeline runs before
    * ANN/semantic-dedup consume the vectors. The norm alone is blind on a
    * normalized corpus (every vector reads 1.0 by construction); the peak
    * still moves — a one-hot-ish spike, a truncated read re-normalized, or
    * a near-uniform degenerate vector all land tails of the peak
    * distribution.
    *
    * Engine-exactness (the event_anomalies discipline): per-row norm and
    * peak come from the SAME codegen'd pass the registered quantizeSummary
    * publishes (ss + maxabs), rounded to the 6-dp grid; group sums run
    * over decimal(18,6)/decimal(38,12) (exact in any partition order);
    * mean/std are fixed chains of correctly-rounded double ops from those
    * exact sums, rounded back to the grid BEFORE the outlier comparison,
    * so both engines compare identical 6-dp values.
    *
    * Scale shape: one scan computes (norm, peak) — persisted, the stats
    * pass and the outlier count both read it; the stats frame is
    * label-cardinality and broadcast back; no shuffle ever carries a
    * vector, only per-row scalars, and those collapse map-side in both
    * aggregates.
    */
  def embeddingOutliers(spark: SparkSession, dir: String, zThresh: Double = 2.0): DataFrame = {
    val qz = graft.functions.VectorExpressions.quantizeVector(col("embedding"))
    // Lazily persisted — released by graft.Caches.clear.
    val scalars = Tables.embeddings(spark, dir)
      .withColumn("qz", qz)
      .select(col("label"),
        round(sqrt(col("qz.ss")), 6).as("norm"),
        round(col("qz.maxabs"), 6).as("peak"))
      .persist()
    def d6(c: Column): Column = c.cast("decimal(18,6)")
    val stats = scalars.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(d6(col("norm"))).as("sn"),
        sum(d6(col("peak"))).as("sp"),
        sum((d6(col("peak")) * d6(col("peak"))).cast("decimal(38,12)")).as("ssp"))
      .select(col("label"), col("n_vecs"),
        round(col("sn").cast("double") / col("n_vecs"), 6).as("mean_norm"),
        round(col("sp").cast("double") / col("n_vecs"), 6).as("mean_peak"),
        // sample std needs n ≥ 2: a singleton label publishes NULL (and,
        // downstream, 0 outliers — a null comparison never satisfies the
        // z-test) instead of the NaN the n−1 denominator would produce,
        // whose cross-engine representation is undefined (ADVICE r12)
        when(col("n_vecs") > 1, round(sqrt(
          (col("ssp").cast("double") - col("sp").cast("double") * col("sp").cast("double")
            / col("n_vecs")) / (col("n_vecs") - lit(1))), 6)).as("std_peak"))
    scalars.join(broadcast(stats), Seq("label"))
      .groupBy(col("label"), col("n_vecs"), col("mean_norm"), col("mean_peak"), col("std_peak"))
      .agg(sum(when(abs(col("peak") - col("mean_peak")) > lit(zThresh) * col("std_peak"), 1L)
        .otherwise(0L)).as("n_outliers"))
      .select("label", "n_vecs", "mean_norm", "mean_peak", "std_peak", "n_outliers")
      .orderBy("label")
  }
}
