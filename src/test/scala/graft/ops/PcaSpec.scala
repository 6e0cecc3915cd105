package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PCA / whitening pins: Jacobi against closed-form eigensystems, the
  * whitening identity-covariance contract on correlated synthetic
  * data, rotation invariance, and the malformed-width data contract. */
class PcaSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("jacobi recovers the closed-form 2x2 eigensystem") {
    val (vals, vecs) = Pca.jacobiEigen(Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(vals(0) - 3.0) < 1e-12 && math.abs(vals(1) - 1.0) < 1e-12)
    val r = 1.0 / math.sqrt(2.0)
    assert(vecs(0).zip(Array(r, r)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    // second vector is (r, -r) up to the sign convention (largest-|c| positive)
    assert(math.abs(math.abs(vecs(1)(0)) - r) < 1e-12)
    assert(math.abs(vecs(1)(0) + vecs(1)(1)) < 1e-12)
  }

  test("jacobi: diagonal input returns its diagonal sorted descending") {
    val (vals, vecs) = Pca.jacobiEigen(Array(
      Array(1.0, 0.0, 0.0), Array(0.0, 5.0, 0.0), Array(0.0, 0.0, 3.0)))
    assert(vals.toSeq === Seq(5.0, 3.0, 1.0))
    assert(vecs(0).toSeq === Seq(0.0, 1.0, 0.0))
    assert(vecs(1).toSeq === Seq(0.0, 0.0, 1.0))
  }

  /** Deterministic correlated fixture: x = A·z + μ with fixed A/μ and
    * hash-free seeded gaussians — strong off-diagonal covariance. */
  private def fixture(n: Int, d: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val a = Array.tabulate(d, d)((i, j) =>
      if (j > i) 0.0 else 0.3 + 0.1 * ((i * d + j) % 5)) // lower-triangular mixing
    val mu = Array.tabulate(d)(i => 0.5 * i)
    (0 until n).map { id =>
      val z = Array.fill(d)(rng.nextGaussian())
      val x = Array.tabulate(d)(i =>
        (mu(i) + (0 until d).map(j => a(i)(j) * z(j)).sum).toFloat)
      (id.toLong, x.toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("orthonormal components; whitened sample covariance is the identity") {
    val d = 6
    val df = fixture(800, d)
    val m = Pca.fit(df, col("embedding"), dims = d, k = d)
    // V Vᵀ = I
    for (r1 <- 0 until d; r2 <- 0 until d) {
      val dot = (0 until d).map(c => m.components(r1 * d + c) * m.components(r2 * d + c)).sum
      val want = if (r1 == r2) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"VVt($r1,$r2)=$dot")
    }
    // eigenvalues descending, all positive on this full-rank fixture
    assert(m.eigvals.toSeq === m.eigvals.sorted(Ordering[Double].reverse).toSeq)
    assert(m.eigvals.forall(_ > 0))
    // whitened covariance ≈ I (eps tiny relative to the spectrum)
    val w = Pca.whiten(df, col("vec_id"), col("embedding"), m, eps = 1e-9)
      .select(col("vec_id"), col("whitened").cast("array<float>").as("e"))
    val cov = Pca.covariance(w, col("e"), d)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (i <- 0 until d; j <- i until d) {
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(cov((i.toLong, j.toLong)) - want) < 1e-3,
        s"whitened cov($i,$j)=${cov((i.toLong, j.toLong))}")
    }
  }

  test("k=d projection is a rotation: pairwise distances preserved") {
    val d = 5
    val df = fixture(50, d)
    val m = Pca.fit(df, col("embedding"), dims = d, k = d)
    val orig = df.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val proj = Pca.project(df, col("vec_id"), col("embedding"), m)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dist(a: Array[Double], b: Array[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    for (i <- 0L until 10L; j <- (i + 1) until 10L) {
      assert(math.abs(dist(orig(i), orig(j)) - dist(proj(i), proj(j))) < 1e-4,
        s"distance not preserved for ($i,$j)")
    }
  }

  test("top-k projection maximizes captured variance (vs dropping the top component)") {
    val d = 6
    val df = fixture(400, d)
    val m = Pca.fit(df, col("embedding"), dims = d, k = 2)
    // variance captured along the top-2 components equals the top-2 eigenvalues
    val proj = Pca.project(df, col("vec_id"), col("embedding"), m)
      .select(col("projected").cast("array<float>").as("e"))
    val cov = Pca.covariance(proj, col("e"), 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(cov((0L, 0L)) - m.eigvals(0)) < 1e-3)
    assert(math.abs(cov((1L, 1L)) - m.eigvals(1)) < 1e-3)
    assert(math.abs(cov((0L, 1L))) < 1e-3) // decorrelated
  }

  test("moment store: streamed/appended fit equals the from-scratch fit; replays change nothing") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val d = 5
    val df = fixture(600, d)
    val whole = Pca.fit(df, col("embedding"), dims = d, k = d)

    // batch-append path: three disjoint slices into one store
    val dir = graft.TempDirs.create("pca_store").toString
    Pca.buildMomentStore(df.filter(col("vec_id") < 200), col("embedding"), d, s"$dir/m")
    Pca.appendMoments(df.filter(col("vec_id") >= 200 && col("vec_id") < 400),
      col("embedding"), d, s"$dir/m", batchId = 0)
    Pca.appendMoments(df.filter(col("vec_id") >= 400),
      col("embedding"), d, s"$dir/m", batchId = 1)
    val stored = Pca.fitFromStore(spark, s"$dir/m", d, d)
    assert(stored.n === whole.n)
    stored.eigvals.zip(whole.eigvals).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"eigval $a vs $b") }
    stored.components.zip(whole.components).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-6) }

    // replay idempotence: re-appending batch 1 overwrites, not adds
    Pca.appendMoments(df.filter(col("vec_id") >= 400),
      col("embedding"), d, s"$dir/m", batchId = 1)
    assert(Pca.fitFromStore(spark, s"$dir/m", d, d).n === whole.n)

    // streaming twin: the same slices as micro-batches through
    // foreachBatch into Pca.appendMoments land as batch partitions of a
    // fresh store
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.StreamingIngest.foreachBatch(
        mem.toDF().select(col("_1").as("vec_id"),
          col("_2").cast("array<float>").as("embedding")), s"$dir/ck")(
      (b, id) => Pca.appendMoments(b, col("embedding"), d, s"$dir/s", id))
    val rows = df.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    mem.addData(rows.filter(_._1 < 300).toSeq: _*); q.processAllAvailable()
    mem.addData(rows.filter(_._1 >= 300).toSeq: _*); q.processAllAvailable()
    q.stop()
    val streamed = Pca.fitFromStore(spark, s"$dir/s", d, d)
    assert(streamed.n === whole.n)
    streamed.eigvals.zip(whole.eigvals).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9) }
  }

  test("wrong-width rows project to empty arrays; covariance skips them") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f)),
      (2L, Seq(9.0f)), // malformed width
      (3L, Seq(2.0f, 3.0f, 4.0f))).toDF("vec_id", "embedding")
    val m = Pca.fit(df, col("embedding"), dims = 3, k = 2)
    assert(m.n === 2) // the malformed row never entered the moments
    val rows = Pca.project(df, col("vec_id"), col("embedding"), m)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).length).toMap
    assert(rows === Map(1L -> 2, 2L -> 0, 3L -> 2))
  }

  test("spectral invariants: eigenvalue sums equal trace and Frobenius norm of the covariance") {
    val df = fixture(400, 5)
    val inv = Pca.spectralInvariants(df, col("embedding"), 5).head()
    val cov = Pca.covariance(df, col("embedding"), 5).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val trace = (0 until 5).map(i => cov((i.toLong, i.toLong))).sum
    val frob = cov.map { case ((i, j), c) =>
      if (i == j) c * c else 2 * c * c }.sum
    // similarity preserves both sums; a Jacobi stopped short would
    // leave off-diagonal mass and undershoot the Frobenius identity
    assert(math.abs(inv.getDouble(0) - trace) < 1e-9)
    assert(math.abs(inv.getDouble(1) - frob) < 1e-9)
    assert(inv.getLong(2) === 400L)
  }

  test("whitenInvariant is the closed-form identity frame; malformed rows never enter n") {
    import spark.implicits._
    val good = fixture(300, 6)
    val bad = Seq((999L, Seq(1.0f))).toDF("vec_id", "embedding")
    val df = good.unionByName(bad)
    val m = Pca.fit(df, col("embedding"), dims = 6, k = 3)
    val rows = Pca.whitenInvariant(df, col("vec_id"), col("embedding"), m)
      .collect()
    assert(rows.length === 3 * 4 / 2)
    rows.foreach { r =>
      val diag = if (r.getLong(0) == r.getLong(1)) 1.0 else 0.0
      assert(r.getDouble(2) === diag, s"cov(${r.getLong(0)},${r.getLong(1)})")
      assert(r.getDouble(3) === 0.0, "whitened mean must round to zero")
      assert(r.getLong(4) === 300L, "the malformed-width row must not count")
    }
  }

  test("cov_accum folds ARRAY<DOUBLE> identically to its float twin and skips null-slot rows") {
    import spark.implicits._
    val floats = Seq(
      (1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 5.0f)), (3L, Seq(-1.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val doubles = floats
      .withColumn("embedding", col("embedding").cast("array<double>"))
    // a right-width row with a null slot is malformed DATA: skipped,
    // never folded in with an arbitrary value
    val withNull = doubles.unionByName(spark.range(1)
      .select(lit(4L).as("vec_id"),
        array(lit(7.0), lit(null).cast("double")).as("embedding")))
    def covOf(df: org.apache.spark.sql.DataFrame) =
      Pca.covariance(df, col("embedding"), 2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val f = covOf(floats)
    assert(covOf(doubles) === f, "double input must fold exactly like float")
    assert(covOf(withNull) === f, "null-slot rows must be skipped, not folded")
  }

  test("dims above Pca.MaxDims are refused with a named error, not a driver stall") {
    import spark.implicits._
    val df = Seq((1L, Seq(1.0f))).toDF("vec_id", "embedding")
    // fit path (moment aggregate) and store path both guard
    val e1 = intercept[IllegalArgumentException] {
      Pca.covariance(df, col("embedding"), dims = Pca.MaxDims + 1)
    }
    assert(e1.getMessage.contains("pca: dims="), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Pca.fitFromStore(spark, "/nonexistent", dims = 4096, k = 16)
    }
    assert(e2.getMessage.contains(s"[1, ${Pca.MaxDims}]"), e2.getMessage)
    // the aggregate itself carries the guard too (SQL-surface defense)
    val e3 = intercept[IllegalArgumentException] {
      graft.functions.CovAccum(
        org.apache.spark.sql.GraftColumnBridge.expression(col("embedding")),
        Pca.MaxDims + 1)
    }
    assert(e3.getMessage.contains("cov_accum"), e3.getMessage)
    // the boundary value itself is accepted (guard, not off-by-one):
    // constructing the aggregate at d = MaxDims must not throw
    graft.functions.CovAccum(
      org.apache.spark.sql.GraftColumnBridge.expression(col("embedding")),
      Pca.MaxDims)
  }
}
