package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Budget-cut semantics, per-source isolation, seed determinism, and
  * the greedy-prefix property of the deterministic mix. */
class MixSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs = {
    import spark.implicits._
    (0L until 40L).map { i =>
      val src = if (i < 20) "a" else "b"
      (i, src, ("w " * (5 + (i % 7)).toInt).trim) // 5..11 tokens
    }.toSeq.toDF("doc_id", "source", "text")
  }

  test("cum_tokens never exceeds the source budget; overrides apply") {
    import spark.implicits._
    val got = Mix.build(docs, col("text"), col("doc_id"), col("source"),
        defaultBudget = 30L, budgets = Map("b" -> 50L), seed = 1L)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    val (as, bs) = got.partition(_._1 == "a")
    assert(as.nonEmpty && as.map(_._3).max <= 30L)
    assert(bs.nonEmpty && bs.map(_._3).max <= 50L)
    assert(bs.map(_._3).max > 30L) // the override actually binds later
    // cum is the running sum of kept prefix: max cum == sum of kept
    assert(as.map(_._2).sum === as.map(_._3).max)
  }

  test("same seed reproduces the exact mix; a new seed re-rolls it") {
    import spark.implicits._
    def ids(seed: Long) = Mix.build(docs, col("text"), col("doc_id"),
        col("source"), 30L, seed = seed)
      .collect().map(_.getLong(0)).toSet
    assert(ids(1L) === ids(1L))
    assert(ids(1L) !== ids(2L)) // 40 docs: same-set collision ~0
  }

  test("greedy prefix: dropping the budget only removes docs") {
    import spark.implicits._
    def ids(b: Long) = Mix.build(docs, col("text"), col("doc_id"),
        col("source"), b, seed = 1L).collect().map(_.getLong(0)).toSet
    assert(ids(20L).subsetOf(ids(60L)))
  }

  test("plan: one window exchange on source, nothing else") {
    import spark.implicits._
    val plan = Mix.build(docs, col("text"), col("doc_id"), col("source"), 30L)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1, plan)
    assert(!plan.contains("Union") && !plan.contains("Join"), plan)
  }

  test("temperature: alpha=1 proportional, alpha=0 uniform, budgets respected") {
    import spark.implicits._
    // skewed corpus: source a has 4x the tokens of b
    val skewed = (0L until 50L).map { i =>
      val src = if (i < 40) "a" else "b"
      (i, src, ("w " * 10).trim)
    }.toSeq.toDF("doc_id", "source", "text")
    def weights(alpha: Double): Map[String, Double] =
      Mix.temperatureBudgets(skewed, col("text"), col("source"),
          totalBudget = 100L, alpha = alpha)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val w1 = weights(1.0)
    assert(math.abs(w1("a") - 0.8) < 1e-6 && math.abs(w1("b") - 0.2) < 1e-6,
      s"alpha=1 must reproduce natural proportions: $w1")
    val w0 = weights(0.0)
    assert(math.abs(w0("a") - 0.5) < 1e-6 && math.abs(w0("b") - 0.5) < 1e-6,
      s"alpha=0 must be uniform: $w0")
    val wh = weights(0.5)
    assert(wh("a") > 0.5 && wh("a") < 0.8,
      s"alpha=0.5 must sit between uniform and proportional: $wh")
    assert(math.abs(wh.values.sum - 1.0) < 1e-5)
    // the allocated build never exceeds a source's temperature budget,
    // and equals build() driven by the same budgets passed explicitly
    val alloc = Mix.temperatureBudgets(skewed, col("text"), col("source"),
        totalBudget = 100L, alpha = 0.5)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val built = Mix.buildTemperature(skewed, col("text"), col("doc_id"),
      col("source"), totalBudget = 100L, alpha = 0.5, seed = 3L)
    val perSrc = built.groupBy("source").agg(max("cum_tokens").as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    perSrc.foreach { case (s, m) => assert(m <= alloc(s), s"$s: $m > ${alloc(s)}") }
    val viaExplicit = Mix.build(skewed, col("text"), col("doc_id"),
        col("source"), defaultBudget = 0L, budgets = alloc, seed = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(built.collect().map(r => (r.getLong(0), r.getLong(3))).toSet ===
      viaExplicit, "temperature build == explicit build under its own budgets")
  }

  test("plan: buildTemperature = one window exchange + broadcast allocation") {
    val built = Mix.buildTemperature(docs, col("text"), col("doc_id"),
      col("source"), totalBudget = 100L, alpha = 0.5, seed = 3L)
    built.collect() // finalize the adaptive plan
    val plan = built.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the corpus-side shuffle is the per-source window ONLY; the
    // allocation side reaches the join as a broadcast, never a
    // shuffled join on the corpus
    assert("BroadcastHashJoin".r.findAllIn(plan).nonEmpty, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert("Window".r.findAllIn(plan).length === 2, plan) // corpus + tiny alloc normalizer
  }

  test("upsample: integer factors exact, zero drops, fraction within 3 sigma") {
    import spark.implicits._
    val many = (0 until 2000).map(i => (i.toLong, s"s${i % 2}")).toDF("doc_id", "source")
    def count(dflt: Double, f: Map[String, Double]) =
      Mix.upsample(many, col("doc_id"), col("source"), dflt, f).count()
    // integer factor: exactly f rows per doc
    assert(count(2.0, Map.empty) === 4000L)
    assert(count(1.0, Map("s1" -> 3.0)) === 1000L + 3000L)
    assert(count(0.0, Map.empty) === 0L)
    // fractional: 2.5 epochs over 2000 docs → 5000 ± 3σ(=3·√(2000·¼))
    val n = count(2.5, Map.empty)
    assert(math.abs(n - 5000L) <= 3 * math.sqrt(2000 * 0.25), s"got $n")
  }

  test("upsample: deterministic and nested in the fractional epoch") {
    import spark.implicits._
    val many = (0 until 500).map(i => (i.toLong, "s")).toDF("doc_id", "source")
    def lastEpochIds(f: Double) =
      Mix.upsample(many, col("doc_id"), col("source"), f)
        .filter(col("epoch") === 3).select("doc_id")
        .collect().map(_.getLong(0)).toSet
    assert(lastEpochIds(2.3) === lastEpochIds(2.3))
    // raising the factor only ADDS docs to the fractional epoch
    assert(lastEpochIds(2.3).subsetOf(lastEpochIds(2.7)))
    assert(lastEpochIds(2.3).size < lastEpochIds(2.7).size)
  }

  test("vocabulary: exact df/tf on a tiny fixture; top-k cut is bounded") {
    import spark.implicits._
    val docs = Seq((1L, "a b a"), (2L, "a  c"), (3L, "c c b")).toDF("doc_id", "text")
    val got = TextOps.vocabulary(docs, col("text"), col("doc_id"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map("a" -> ((2L, 3L)), "b" -> ((2L, 2L)), "c" -> ((2L, 3L))))
    // deterministic cut: df desc, tf desc, token asc → a, c, b
    val top = TextOps.topVocabulary(docs, col("text"), col("doc_id"), 2)
      .collect().map(_.getString(0)).toSeq
    assert(top === Seq("a", "c"))
    val plan = TextOps.topVocabulary(docs, col("text"), col("doc_id"), 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("hexThreshold is exact (no decimal-context rounding) and pads") {
    assert(Mix.hexThreshold(0.5) === "80000000000000000000000000000000")
    assert(Mix.hexThreshold(0.25) === "40000000000000000000000000000000")
    assert(Mix.hexThreshold(0.0) === "00000000000000000000000000000000")
    assert(Mix.hexThreshold(2.5 % 1) === "80000000000000000000000000000000")
    // a non-dyadic fraction keeps the DOUBLE's exact binary expansion
    // (0.1 as a double is 0x1.999999999999Ap-4 — the 'a' is the
    // rounded mantissa tail, then exact zeros)
    assert(Mix.hexThreshold(0.1) === "1999999999999a000000000000000000")
  }

  test("hexThreshold properties: monotone, exact dyadic roundtrip (200 random fracs)") {
    // deterministic pseudo-random fracs — no RNG state in the suite
    val fracs = (1 to 200).map { i =>
      val x = (i * 2654435761L) & ((1L << 52) - 1)
      x.toDouble / (1L << 52)
    }.sorted
    // monotone: a larger fraction never yields a smaller threshold
    fracs.zip(fracs.tail).foreach { case (a, b) =>
      assert(Mix.hexThreshold(a) <= Mix.hexThreshold(b), s"$a vs $b")
    }
    // exact roundtrip: the 32-hex threshold re-scaled equals the
    // double exactly (the threshold IS the double, not a rounding)
    fracs.foreach { f =>
      val bi = BigInt(Mix.hexThreshold(f), 16)
      val back = BigDecimal(bi) / BigDecimal(BigInt(1) << 128)
      assert(back.toDouble === f, s"roundtrip $f")
    }
  }

  test("oovRate: occurrences outside the stored vocab, per group") {
    import spark.implicits._
    val docs = Seq((1L, "a b a", "g1"), (2L, "a c", "g1"), (3L, "c c b", "g2"))
      .toDF("doc_id", "text", "source")
    val path = graft.TempDirs.create("vocab_idx").toString
    TextOps.buildVocabIndex(docs, col("text"), col("doc_id"), k = 2, path)
    // top-2 vocab = {a, c}; g1 tokens: a b a a c -> 1/5 oov; g2: c c b -> 1/3
    val got = TextOps.oovRate(spark, path, docs, col("text"), col("source"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got("g1") === ((5L, 1L, 0.2)))
    assert(got("g2") === ((3L, 1L, 0.333333)))
  }
}
