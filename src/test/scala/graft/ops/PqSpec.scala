package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PQ/ADC ANN: code-range sanity, self-coding under a medoid
  * codebook, measured recall vs brute force, and stored-index
  * round-trip parity. */
class PqSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dims = 64

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def vec(i: Long): Seq[Float] =
    (0 until dims).map(d =>
      (Math.floorMod(mix(i * 1000003L + d), 2000L) / 1000.0 - 1.0).toFloat)

  private def corpus: DataFrame = {
    import spark.implicits._
    (0L until 300L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
  }

  private def queries: DataFrame = {
    import spark.implicits._
    (0L until 8L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
  }

  private def recallAt10(got: DataFrame, want: DataFrame): Double = {
    val g = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val w = want.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (g intersect w).size.toDouble / w.size
  }

  test("codes are m bytes in [0, ks)") {
    val cb = Similarity.pqFitCodebook(corpus, mode = "firstk")
    val codes = corpus.select(
        graft.functions.PqFunctions.pqEncode(col("embedding"), cb, 16, 16, 4)
          .as("c"))
      .collect().map(_.getSeq[Byte](0))
    assert(codes.forall(c => c.length == 16 && c.forall(b => b >= 0 && b < 16)))
  }

  test("a codebook vector codes to itself and self-scores ~1 under ADC") {
    // firstk: vector c IS codeword c of every subspace, so its exact
    // reconstruction is itself — codes all equal c, ADC cosine = 1
    val cb = Similarity.pqFitCodebook(corpus, mode = "firstk")
    val codes = corpus.filter(col("vec_id") < 16)
      .select(col("vec_id"),
        graft.functions.PqFunctions.pqEncode(col("embedding"), cb, 16, 16, 4)
          .as("c"))
      .collect().map(r => (r.getLong(0), r.getSeq[Byte](1))).toMap
    (0 until 16).foreach { c =>
      assert(codes(c.toLong).forall(_ == c.toByte),
        s"vector $c should code to itself in every subspace")
    }
    val self = Similarity.pqTopK(corpus, queries.filter(col("vec_id") < 5),
        k = 1, mode = "firstk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    self.foreach { case (q, v, s) =>
      assert(q === v && s === 1.0, s"query $q should self-match at 1.0, got ($v, $s)")
    }
  }

  test("k-means PQ recall@10 vs brute force; refine buys recall back") {
    // structureless uniform vectors are ANN's worst case (neighbor
    // gaps ~ quantization error) — the floors are measured values
    // minus slack, not aspirations
    val want = Similarity.bruteForceTopK(corpus, queries, 10)
    val pure = recallAt10(Similarity.pqTopK(corpus, queries, 10), want)
    assert(pure >= 0.45, s"pure-ADC recall@10 regressed: $pure") // measured 0.55
    val refined = recallAt10(
      Similarity.pqTopK(corpus, queries, 10, refine = 4), want)
    assert(refined >= pure, s"refine must not lose recall: $refined < $pure")
    assert(refined >= 0.80, s"refined recall@10 regressed: $refined")
  }

  test("appendToPqIndex codes against the frozen codebook; replay appends nothing") {
    val dir = graft.TempDirs.create("pqidx2").toString
    Similarity.buildPqIndex(corpus.filter(col("vec_id") < 250), dir)
    val inc = corpus.filter(col("vec_id") >= 250)
    Similarity.appendToPqIndex(spark, dir, inc, col("vec_id"), col("embedding"))
    Similarity.appendToPqIndex(spark, dir, inc, col("vec_id"), col("embedding"))
    val codes = spark.read.parquet(s"$dir/codes")
    assert(codes.count() === 300) // replay appended nothing
    // appended rows carry exactly the codes the STORED codebook
    // assigns (the quantizer froze at build; no refit on append)
    val cb = spark.read.parquet(s"$dir/codebook").orderBy("idx")
      .collect().map(_.getAs[Double]("v"))
    val expected = inc.select(col("vec_id"),
        graft.functions.PqFunctions.pqEncode(col("embedding"), cb, 16, 16, 4)
          .as("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Byte](1))).toMap
    val got = codes.filter(col("vec_id") >= 250)
      .collect().map(r => (r.getLong(0), r.getSeq[Byte](1))).toMap
    assert(got === expected)
  }

  test("the ADC scan plan broadcasts queries and never shuffle-joins") {
    val dir = graft.TempDirs.create("pqidx3").toString
    Similarity.buildPqIndex(corpus, dir)
    val plan = Similarity.pqTopKStored(spark, dir, queries, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      plan.take(2000))
  }

  test("stored PQ index reproduces the inline rows exactly") {
    val dir = graft.TempDirs.create("pqidx").toString
    Similarity.buildPqIndex(corpus, dir)
    val stored = Similarity.pqTopKStored(spark, dir, queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inline = Similarity.pqTopK(corpus, queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stored === inline)
  }

  test("stored OPQ index reproduces inline opqPqTopK exactly; append rotates through the store") {
    val dir = graft.TempDirs.create("opqidx").toString
    Similarity.buildOpqIndex(corpus, dir)
    // unrefined parity: same rotation + codebook => identical ADC rows
    val stored = Similarity.opqPqTopKStored(spark, dir, queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inline = Similarity.opqPqTopK(corpus, queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stored === inline)
    // refined parity: the stored refine re-ranks in rotated space, so
    // even the float arithmetic matches the inline refined path
    val storedR = Similarity.opqPqTopKStored(spark, dir, queries, 10,
        refine = 4, corpus = corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inlineR = Similarity.opqPqTopK(corpus, queries, 10, refine = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(storedR === inlineR)
    // append: increments rotate through the STORED rotation and code
    // against the frozen codebook; replay appends nothing
    val dir2 = graft.TempDirs.create("opqidx2").toString
    Similarity.buildOpqIndex(corpus.filter(col("vec_id") < 250), dir2)
    val inc = corpus.filter(col("vec_id") >= 250)
    Similarity.appendToOpqIndex(spark, dir2, inc, col("vec_id"), col("embedding"))
    Similarity.appendToOpqIndex(spark, dir2, inc, col("vec_id"), col("embedding"))
    val codes = spark.read.parquet(s"$dir2/codes")
    assert(codes.count() === 300)
    val rot = spark.read.parquet(s"$dir2/rotation").orderBy("idx")
      .collect().map(_.getAs[Double]("v"))
    val cb = spark.read.parquet(s"$dir2/codebook").orderBy("idx")
      .collect().map(_.getAs[Double]("v"))
    val expected = Similarity.opqRotate(inc, rot, dims)
      .select(col("vec_id"),
        graft.functions.PqFunctions.pqEncode(col("embedding"), cb, 16, 16, 4)
          .as("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Byte](1))).toMap
    val got = codes.filter(col("vec_id") >= 250)
      .collect().map(r => (r.getLong(0), r.getSeq[Byte](1))).toMap
    assert(got === expected)
  }

  test("IVF-PQ: stored == inline, residual reconstruction is score-exact, recall vs brute") {
    val want = Similarity.bruteForceTopK(corpus, queries, 10)
    // inline, refine opted OUT (the default is the 4x exact re-rank):
    // coarse pruning x residual quantization
    val inline = Similarity.ivfPqTopK(corpus, queries, 10, nlist = 8,
      nprobe = 4, m = 16, ks = 16, refine = 1)
    val pure = recallAt10(inline, want)
    assert(pure >= 0.40, s"IVF-PQ pure-ADC recall@10 regressed: $pure")
    // refine over-fetch re-ranks exactly
    val refined = recallAt10(Similarity.ivfPqTopK(corpus, queries, 10,
      nlist = 8, nprobe = 4, m = 16, ks = 16, refine = 4), want)
    assert(refined >= pure, s"refine lost recall: $refined < $pure")
    // persisted path reproduces the inline rows exactly (same seed)
    val dir = graft.TempDirs.create("ivfpq").toString
    Similarity.buildIvfPqIndex(corpus, dir, nlist = 8, m = 16, ks = 16)
    val stored = Similarity.ivfPqTopKStored(spark, dir, queries, 10,
      nprobe = 4)
    val a = inline.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = stored.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a === b, "stored IVF-PQ must reproduce the inline rows")
    // stored path WITH the float corpus applies the refine-by-default
    // posture and must reproduce the refined inline rows
    val storedRef = Similarity.ivfPqTopKStored(spark, dir, queries, 10,
        nprobe = 4, corpus = corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inlineRef = Similarity.ivfPqTopK(corpus, queries, 10, nlist = 8,
        nprobe = 4, m = 16, ks = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(storedRef === inlineRef,
      "stored+corpus must reproduce the refined inline rows")
    // score exactness wrt the reconstruction: decode (centroid + r-hat)
    // for every scored row of one query and compare to plain cosine
    val meta = spark.read.parquet(s"$dir/meta").head()
    val (m, ks2, dims2) = (meta.getAs[Int]("m"), meta.getAs[Int]("ks"),
      meta.getAs[Int]("dims"))
    val ds = dims2 / m
    val cb = spark.read.parquet(s"$dir/codebook").orderBy("idx")
      .collect().map(_.getAs[Double]("v"))
    val cents = spark.read.parquet(s"$dir/centroids").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val codeRows = spark.read.parquet(s"$dir/codes").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("__list").toLong,
          r.getSeq[Byte](r.fieldIndex("codes")).toArray))).toMap
    val q0 = queries.filter(col("vec_id") === 0L)
      .collect()(0).getSeq[Float](1).map(_.toDouble).toArray
    val qn = math.sqrt(q0.map(x => x * x).sum)
    stored.filter(col("query_id") === 0L).collect().foreach { r =>
      val vid = r.getLong(1)
      val (list, codes) = codeRows(vid)
      val c = cents(list)
      val recon = Array.tabulate(dims2) { d =>
        c(d) + cb(((d / ds) * ks2 + (codes(d / ds) & 0xff)) * ds + d % ds)
      }
      val rn = math.sqrt(recon.map(x => x * x).sum)
      val expect = recon.zip(q0).map { case (x, y) => x * y }.sum / (qn * rn)
      assert(math.abs(r.getDouble(2) - expect) < 5e-4,
        s"vec $vid: stored-norm ADC ${r.getDouble(2)} vs recon cosine $expect")
    }
  }
  test("OPQ rotation is orthogonal, cosine-preserving, and non-degrading") {
    import spark.implicits._
    val rot = Similarity.opqRotation(corpus, dims, m = 16)
    // R·Rᵀ = I (rows are a permuted orthonormal eigenbasis)
    var r = 0
    while (r < dims) {
      var c = 0
      while (c < dims) {
        var dot = 0.0
        var k = 0
        while (k < dims) { dot += rot(r * dims + k) * rot(c * dims + k); k += 1 }
        assert(math.abs(dot - (if (r == c) 1.0 else 0.0)) < 1e-9,
          s"R·Rt[$r][$c] = $dot")
        c += 1
      }
      r += 1
    }
    // rotation preserves pairwise cosine (float-rounding tolerance)
    val before = corpus.limit(20).collect()
      .map(row => row.getLong(0) -> row.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val after = Similarity.opqRotate(corpus.limit(20), rot, dims).collect()
      .map(row => row.getLong(0) -> row.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map(p => p._1 * p._2).sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    for (i <- 0L until 5L; j <- (i + 1) until 10L)
      assert(math.abs(cos(before(i), before(j)) - cos(after(i), after(j))) < 1e-5,
        s"cosine($i,$j) not preserved")
    // recall does not degrade vs unrotated PQ (subspace-variance
    // balance is asserted on an anisotropic corpus in the dedicated
    // allocation test below — this near-isotropic corpus can't
    // distinguish a balanced allocation from a degenerate one)
    val brute = Similarity.bruteForceTopK(corpus, queries, k = 10)
    val plain = recallAt10(
      Similarity.pqTopK(corpus, queries, k = 10, maxIter = 4), brute)
    val opq = recallAt10(
      Similarity.opqPqTopK(corpus, queries, k = 10, maxIter = 4), brute)
    assert(opq >= plain - 0.1,
      s"OPQ recall $opq collapsed vs plain PQ $plain")
  }

  test("OPQ eigenvalue allocation balances subspaces and is scale-invariant") {
    import spark.implicits._
    val m = 16
    val ds = dims / m
    // Anisotropic planted corpus: per-dim variance decays
    // geometrically, so the raw axis-order subspaces are wildly
    // imbalanced (ratio in the thousands) and only a genuinely
    // interleaved eigenvalue allocation collapses the ratio. The
    // degenerate sequential fill (the scale-dependence bug this test
    // pins: eigenvalues < 1 made a just-filled bucket keep winning)
    // leaves the ratio at raw scale and fails the bound.
    val aniso = (0L until 300L).map { i =>
      val v = vec(i).zipWithIndex.map { case (x, d) =>
        (x * math.pow(0.93, d)).toFloat
      }
      (i, v)
    }.toDF("vec_id", "embedding")
    def subspaceVarRatio(df: DataFrame): Double = {
      val rows = df.collect()
        .map(_.getSeq[Float](1).map(_.toDouble).toArray)
      val n = rows.length.toDouble
      val mean = new Array[Double](dims)
      rows.foreach(v => (0 until dims).foreach(d => mean(d) += v(d) / n))
      val varD = new Array[Double](dims)
      rows.foreach(v => (0 until dims).foreach { d =>
        val c = v(d) - mean(d); varD(d) += c * c / n
      })
      val sub = (0 until m).map(s => (0 until ds).map(j => varD(s * ds + j)).sum)
      sub.max / sub.min
    }
    val rawRatio = subspaceVarRatio(aniso)
    val rot = Similarity.opqRotation(aniso, dims, m)
    val rotRatio = subspaceVarRatio(Similarity.opqRotate(aniso, rot, dims))
    assert(rawRatio > 500.0, s"planted anisotropy too weak: raw $rawRatio")
    assert(rotRatio < rawRatio / 50.0,
      s"rotation did not balance subspace variance: raw $rawRatio rotated $rotRatio")
    // Scale invariance: a uniform ×16 rescale (covariance eigenvalues
    // ×256, crossing the λ=1 boundary) must produce the SAME rotation
    // — the allocation depends only on eigenvalue RATIOS.
    val scaled = aniso.select(col("vec_id"),
      transform(col("embedding"), x => x * lit(16.0f)).as("embedding"))
    val rot2 = Similarity.opqRotation(scaled, dims, m)
    var r = 0
    while (r < dims) {
      var dot = 0.0
      var k = 0
      while (k < dims) { dot += rot(r * dims + k) * rot2(r * dims + k); k += 1 }
      assert(math.abs(math.abs(dot) - 1.0) < 1e-6,
        s"allocation changed under uniform rescale at row $r: |dot| = ${math.abs(dot)}")
      r += 1
    }
  }

  test("non-parametric OPQ: orthogonal, monotone objective, recall holds on anisotropy") {
    import spark.implicits._
    val m = 16
    val aniso = (0L until 300L).map { i =>
      val v = vec(i).zipWithIndex.map { case (x, d) =>
        (x * math.pow(0.93, d)).toFloat
      }
      (i, v)
    }.toDF("vec_id", "embedding")
    val (rot, errs) = Similarity.opqRotationNPTrace(aniso, dims, m,
      ks = 16, iters = 6, lloydIters = 8, fitSample = 300)
    // R·Rᵀ = I: the alternated rotation stays a pure rotation
    var i = 0
    while (i < dims) {
      var j = 0
      while (j < dims) {
        var dot = 0.0
        var k = 0
        while (k < dims) { dot += rot(i * dims + k) * rot(j * dims + k); k += 1 }
        assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9,
          s"R R^T != I at ($i,$j): $dot")
        j += 1
      }
      i += 1
    }
    // the alternation's sample objective is monotone non-increasing
    // (Procrustes is the closed-form optimum with codebooks fixed;
    // Lloyd warm-starts from the previous codebooks) and must
    // actually improve on the parametric seed here
    assert(errs.size === 7)
    errs.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-9, s"objective rose: $a -> $b (trace $errs)")
    }
    assert(errs.last < errs.head * 0.999,
      s"alternation bought nothing over the parametric seed: $errs")
    // recall ordering on the planted corpus: NP holds at least the
    // parametric level (small integer-count slack on 80 truth pairs)
    val q = aniso.filter(col("vec_id") < 8)
    val brute = Similarity.bruteForceTopK(aniso, q, k = 10)
    val rPar = recallAt10(Similarity.opqPqTopK(aniso, q, k = 10), brute)
    val rNp = recallAt10(Similarity.opqNpPqTopK(aniso, q, k = 10), brute)
    info(f"aniso recall@10: parametric $rPar%.3f  non-parametric $rNp%.3f")
    assert(rNp >= rPar - 0.05, s"NP recall $rNp below parametric $rPar")
  }
}
