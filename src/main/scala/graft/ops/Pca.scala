package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PCA / whitening over an embedding column — the preprocessing step
  * embedding-dedup pipelines (SemDeDup-family) and cheap-ANN paths
  * run before cosine work: decorrelate and rescale the space so
  * near-duplicate thresholds behave uniformly across directions, or
  * project to the top-k components for a smaller index.
  *
  * Shape at 100 TB: the ONLY corpus-sized work is one aggregation —
  * [[graft.functions.CovAccum]] folds each vector into a fixed
  * d + d(d+1)/2-double moment buffer (~17 KB at d=64) with map-side
  * partials, so the shuffle carries one buffer per partition, never
  * rows. The eigendecomposition happens on the DRIVER over the d×d
  * covariance (a d²-sized object — independent of corpus size), and
  * the whitening projection is a fused codegen kernel in the scan
  * ([[graft.functions.Kernels.projectCentered]]): one k×d mat-vec per
  * row, no shuffle, no UDF.
  *
  * Determinism: cyclic Jacobi with a fixed sweep order and a fixed
  * sign convention (largest-|component| positive) makes the model a
  * pure function of the covariance; the covariance is a sum whose
  * float→double products are exact, so runs differ only by
  * double-addition order across partitions (~1e-15 — below every
  * rounding used downstream).
  */
object Pca {

  /** The documented, ENFORCED dims boundary (r13 verdict item 3).
    * Two costs scale with d, not the corpus: the moment buffer is
    * d(d+3)/2 doubles per partial (d=64 → ~17 KB; d=1024 → ~4.2 MB —
    * still one small row per partition; d=4096 → ~67 MB per partial,
    * no longer a cheap shuffle) and the eigensolve is a DRIVER-side
    * O(d³) cyclic Jacobi over a dense d×d matrix (d=1024 → ~10⁹·
    * sweeps flops, seconds; d=4096 → a silent minutes-scale driver
    * stall). Above 1024, reduce first (random projection, or PCA fit
    * on a dimension slice) — every entry point raises a named error
    * instead of stalling. */
  val MaxDims: Int = 1024

  private[graft] def checkDims(dims: Int): Unit =
    require(dims >= 1 && dims <= MaxDims,
      s"pca: dims=$dims outside [1, $MaxDims] — the moment buffer is " +
        "d(d+3)/2 doubles per partial and the eigensolve is a driver " +
        "O(d^3) Jacobi; reduce dimensionality (random projection / " +
        "PCA on a slice) before fitting")

  /** Fitted model: `mean` (d), `eigvals` (k, descending), and
    * `components` (k rows × d, row-major, orthonormal, sign-fixed). */
  final case class PcaModel(dims: Int, k: Int, n: Long,
      mean: Array[Double], eigvals: Array[Double],
      components: Array[Double]) {
    /** Components scaled by 1/sqrt(λ+eps): the whitening map. */
    def whitenMat(eps: Double): Array[Double] = {
      val out = new Array[Double](components.length)
      var r = 0
      while (r < k) {
        val s = 1.0 / math.sqrt(eigvals(r) + eps)
        var c = 0
        while (c < dims) { out(r * dims + c) = components(r * dims + c) * s; c += 1 }
        r += 1
      }
      out
    }
  }

  /** The one-row moment summary (n, Σx, upper Σxxᵀ) as a frame — the
    * ADDITIVE, persistable form: summaries from disjoint corpus
    * slices merge by elementwise addition, which is what makes the
    * moment store appendable and replay-idempotent. */
  private def momentFrame(emb: DataFrame, vec: Column,
      dims: Int): DataFrame = {
    checkDims(dims)
    import org.apache.spark.sql.GraftColumnBridge
    emb.select(GraftColumnBridge.column(
        graft.functions.CovAccum(GraftColumnBridge.expression(vec), dims)
          .toAggregateExpression()).as("m"))
      .select(col("m.n").as("n"), col("m.sum").as("sum"),
        col("m.upper").as("upper"))
  }

  private def finishMoments(n: Long, sum: Array[Double],
      upper: Array[Double],
      dims: Int): (Long, Array[Double], Array[Array[Double]]) = {
    require(n > 0, "pca: no rows of the declared width")
    val mean = sum.map(_ / n)
    val cov = Array.ofDim[Double](dims, dims)
    var u = 0
    var i = 0
    while (i < dims) {
      var j = i
      while (j < dims) {
        val c = upper(u) / n - mean(i) * mean(j)
        cov(i)(j) = c; cov(j)(i) = c
        u += 1; j += 1
      }
      i += 1
    }
    (n, mean, cov)
  }

  /** One-pass moment summary → (n, mean, population covariance). */
  private def moments(emb: DataFrame, vec: Column,
      dims: Int): (Long, Array[Double], Array[Array[Double]]) = {
    val row = momentFrame(emb, vec, dims).head()
    finishMoments(row.getLong(0), row.getSeq[Double](1).toArray,
      row.getSeq[Double](2).toArray, dims)
  }

  /** Persist the corpus' moment summary — the write-once batch half
    * of an INCREMENTAL PCA: the store is `batch=`-partitioned one-row
    * summaries (~17 KB each), increments append new partitions
    * ([[appendMoments]], in batch or as the body of a
    * [[graft.streaming.StreamingIngest.foreachBatch]] with
    * replay-overwrite exactly-once), and a fit folds them by plain
    * addition — the covariance of the GROWN corpus with no rescan of
    * old data. */
  def buildMomentStore(emb: DataFrame, vec: Column, dims: Int,
      path: String): Unit =
    momentFrame(emb, vec, dims)
      .write.mode("overwrite").parquet(s"$path/batch=-1")

  /** Append an increment's moment summary as the next batch
    * partition (caller picks a fresh `batchId`; reusing one
    * overwrites — the idempotence the streaming path leans on). */
  def appendMoments(emb: DataFrame, vec: Column, dims: Int,
      path: String, batchId: Long): Unit =
    momentFrame(emb, vec, dims)
      .write.mode("overwrite").parquet(s"$path/batch=$batchId")

  /** Fold the store's batch summaries (a handful of ~17 KB rows —
    * model state, driver-side by design) into live moments. */
  private def loadMoments(spark: org.apache.spark.sql.SparkSession,
      path: String,
      dims: Int): (Long, Array[Double], Array[Array[Double]]) = {
    checkDims(dims)
    val rows = spark.read.parquet(path)
      .select("n", "sum", "upper").collect()
    var n = 0L
    val sum = new Array[Double](dims)
    val upper = new Array[Double](dims * (dims + 1) / 2)
    rows.foreach { r =>
      n += r.getLong(0)
      val s = r.getSeq[Double](1)
      val u = r.getSeq[Double](2)
      var i = 0
      while (i < dims) { sum(i) += s(i); i += 1 }
      i = 0
      while (i < upper.length) { upper(i) += u(i); i += 1 }
    }
    finishMoments(n, sum, upper, dims)
  }

  /** Fit from a persisted moment store — the incremental-corpus fit:
    * same model as a from-scratch [[fit]] over the union of every
    * appended slice (moment addition is exact; only double-addition
    * order differs). */
  def fitFromStore(spark: org.apache.spark.sql.SparkSession,
      path: String, dims: Int, k: Int): PcaModel = {
    require(k > 0 && k <= dims, s"pca: need 0 < k <= dims, got k=$k dims=$dims")
    val (n, mean, cov) = loadMoments(spark, path, dims)
    val (vals, vecs) = jacobiEigen(cov)
    PcaModel(dims, k, n, mean,
      vals.take(k),
      Array.tabulate(k * dims)(i => vecs(i / dims)(i % dims)))
  }

  /** The population covariance as rows (i, j, cov), upper triangle —
    * a d²-sized result expanded driver-side from the one-row
    * aggregate (this is model state, not data). The oracle surface:
    * every entry is re-derivable in plain SQL. */
  def covariance(emb: DataFrame, vec: Column, dims: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (_, _, cov) = moments(emb, vec, dims)
    (for { i <- 0 until dims; j <- i until dims }
      yield (i.toLong, j.toLong, cov(i)(j)))
      .toDF("i", "j", "cov")
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: fixed
    * (p, q) sweep order, rotations until the off-diagonal Frobenius
    * mass drops below `tol` (or `maxSweeps`). Returns (eigenvalues,
    * eigenvectors as ROWS), sorted by eigenvalue descending (ties by
    * original index), each vector sign-fixed so its
    * largest-|component| entry is positive — a total, deterministic
    * convention. Public algorithm (Golub & Van Loan §8.5). */
  private[graft] def jacobiEigen(a0: Array[Array[Double]],
      maxSweeps: Int = 64,
      tol: Double = 1e-14): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offMass(a)
    val scale = math.max(frobenius(a), 1e-300)
    while (sweep < maxSweeps && off > tol * scale) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            // rotation angle zeroing a(p)(q)
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              case s => s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offMass(a)
      sweep += 1
    }
    val eig = Array.tabulate(d)(i => a(i)(i))
    val order = (0 until d).sortBy(i => (-eig(i), i))
    val vals = order.map(eig).toArray
    val vecs = order.map { i =>
      val col = Array.tabulate(d)(r => v(r)(i))
      // sign convention: largest-|component| positive (first max wins)
      var best = 0
      var m = 0.0
      var r = 0
      while (r < d) { val x = math.abs(col(r)); if (x > m) { m = x; best = r }; r += 1 }
      if (col(best) < 0) col.map(-_) else col
    }.toArray
    (vals, vecs)
  }

  private def offMass(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = 0
      while (j < a.length) { if (i != j) s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    math.sqrt(s)
  }

  private def frobenius(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = 0
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    math.sqrt(s)
  }

  /** Fit a k-component model: one covariance aggregation + a driver
    * Jacobi solve. */
  def fit(emb: DataFrame, vec: Column, dims: Int, k: Int): PcaModel = {
    require(k > 0 && k <= dims, s"pca: need 0 < k <= dims, got k=$k dims=$dims")
    val (n, mean, cov) = moments(emb, vec, dims)
    val (vals, vecs) = jacobiEigen(cov)
    PcaModel(dims, k, n, mean,
      vals.take(k),
      Array.tabulate(k * dims)(i => vecs(i / dims)(i % dims)))
  }

  /** Project each vector onto the model's top-k components
    * (y = V·(x − μ)): the dimensionality-reduction map. One fused
    * kernel call per row in the scan projection. */
  def project(emb: DataFrame, id: Column, vec: Column,
      model: PcaModel): DataFrame =
    emb.select(id.as("vec_id"),
      graft.functions.GraftFunctions.projectCentered(vec, model.mean,
        model.components, model.k, model.dims).as("projected"))

  /** Whitened projection (y = diag(1/√(λ+eps))·V·(x − μ)): the
    * whitened sample covariance is ~identity, so cosine/L2 thresholds
    * behave uniformly across directions. */
  def whiten(emb: DataFrame, id: Column, vec: Column, model: PcaModel,
      eps: Double = 1e-6): DataFrame =
    emb.select(id.as("vec_id"),
      graft.functions.GraftFunctions.projectCentered(vec, model.mean,
        model.whitenMat(eps), model.k, model.dims).as("whitened"))

  /** SQL-oracle-able SPECTRAL invariants of the full eigensystem:
    * Σλᵢ = trace(C) and Σλᵢ² = ‖C‖²_F — both plain covariance
    * arithmetic any engine can compute WITHOUT an eigensolver. The
    * second is also a CONVERGENCE oracle: orthogonal similarity
    * preserves the Frobenius norm, so the diagonal the solver reads
    * its eigenvalues from satisfies Σλᵢ² = ‖C‖²_F − (residual
    * off-diagonal mass)² — an unconverged Jacobi shows up as a
    * strict deficit, not just a wrong rotation. One row:
    * (trace, frobenius_sq, n over well-formed rows). */
  def spectralInvariants(emb: DataFrame, vec: Column,
      dims: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (n, _, cov) = moments(emb, vec, dims)
    val (vals, _) = jacobiEigen(cov)
    Seq((vals.sum, vals.map(v => v * v).sum, n))
      .toDF("trace", "frobenius_sq", "n")
  }

  /** The whiten INVARIANT as an oracle-able frame: mean and
    * covariance of the whitened corpus, which are ZERO and IDENTITY
    * by construction (cov up to eps/λ and float noise, both orders of
    * magnitude below `roundDp` decimals) — so the expected output is
    * a closed form any engine can state without knowing the
    * engine-local eigenbasis. One row per upper-triangle (i, j) of
    * the k×k whitened covariance: (i, j, cov, mu=mean_i, n=#rows
    * folded). Every whitened row feeds the aggregate, so a wrong
    * projection of ANY row perturbs the matrix; mu pins centering
    * separately because covariance alone is shift-invariant.
    * Malformed inputs (wrong width OR a null slot — the same
    * well-formedness verdict the CovAccum fit applies) whiten to
    * empty arrays and are excluded from both the fold and n (data,
    * not errors), so fit-excluded rows never feed the identity. */
  def whitenInvariant(emb: DataFrame, id: Column, vec: Column,
      model: PcaModel, eps: Double = 1e-6, roundDp: Int = 2): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val w = whiten(emb, id, vec, model, eps)
      .filter(size(col("whitened")) === model.k)
    val row = momentFrame(w, col("whitened"), model.k).head()
    val (n, mean, cov) = finishMoments(row.getLong(0),
      row.getSeq[Double](1).toArray, row.getSeq[Double](2).toArray,
      model.k)
    // driver-side rounding with -0.0 folded to 0.0 so the hash
    // canonicalization can't distinguish signed zeros
    def rnd(x: Double): Double = {
      val r = BigDecimal(x)
        .setScale(roundDp, scala.math.BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      if (r == 0.0) 0.0 else r
    }
    (for { i <- 0 until model.k; j <- i until model.k }
      yield (i.toLong, j.toLong, rnd(cov(i)(j)), rnd(mean(i)), n))
      .toDF("i", "j", "cov", "mu", "n")
  }
}
