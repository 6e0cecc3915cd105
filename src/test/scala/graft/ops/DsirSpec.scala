package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DSIR importance weighting: the log-ratio must actually tilt
  * toward the target domain, the Gumbel resample must enrich it, and
  * the selection must be deterministic and temperature-sensitive. */
class DsirSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Two token registers: target docs draw from an "anchor-word"
    * vocabulary, raw-only docs from a disjoint one, plus shared glue
    * words — so the hashed-gram ratio has real signal to find. */
  private def corpus = {
    import spark.implicits._
    val shared = Seq("the", "of", "and")
    (0L until 120L).map { i =>
      val isT = i % 3 == 0
      val vocab = if (isT) Seq("alpha", "beta", "gamma", "delta")
        else Seq("kappa", "sigma", "omega", "zeta")
      val toks = (0 until 12).map { j =>
        if (j % 3 == 2) shared((i + j).toInt % shared.size)
        else vocab(((i * 7 + j * 3) % vocab.size).toInt)
      }
      (i, if (isT) "t" else "r", toks.mkString(" "))
    }.toDF("doc_id", "domain", "text")
  }

  test("bucket hash is uniform-ranged and n_grams counts uni+bi") {
    val d = Dsir.docBucketCounts(corpus, col("text"), col("doc_id"))
    val mm = d.agg(min("b"), max("b")).head()
    assert(mm.getLong(0) >= 0L && mm.getLong(1) < 4096L)
    // 12 tokens → 12 unigrams + 11 bigrams = 23 grams per doc
    val per = d.groupBy("doc_id").agg(sum("c").as("n")).select("n")
      .distinct().collect().map(_.getLong(0)).toSet
    assert(per === Set(23L))
  }

  test("target-domain docs get higher importance weights") {
    val w = Dsir.logWeights(corpus, col("text"), col("doc_id"),
      col("domain") === "t")
    val m = w.join(corpus.select(col("doc_id"), col("domain")), Seq("doc_id"))
      .groupBy("domain").agg(avg("logw").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("t") > 0.0 && m("r") < 0.0,
      s"target mean ${m("t")} should be positive, raw mean ${m("r")} negative")
  }

  test("Gumbel top-n enriches the target domain and is deterministic") {
    val w = Dsir.logWeights(corpus, col("text"), col("doc_id"),
      col("domain") === "t")
    // n=60 > the 40 target docs, so the tail of the selection is
    // noise-determined — the seed must re-roll it
    def sel(seed: Long) = Dsir.resampleTopN(w, n = 60, seed = seed)
      .collect().map(_.getLong(0)).toSet
    val s7 = sel(7L)
    assert(s7 === sel(7L))
    assert(s7 !== sel(8L)) // noise actually re-rolls
    val targetRate = s7.count(_ % 3 == 0).toDouble / s7.size
    assert(targetRate > 1.0 / 3.0 + 0.15,
      s"resample should enrich the 1/3 target base rate, got $targetRate")
  }

  test("stats fit on the scored corpus reproduce logWeights exactly") {
    val dir = graft.TempDirs.create("dsirstats").toString
    Dsir.buildStats(corpus, col("text"), col("doc_id"),
      col("domain") === "t", dir)
    val against = Dsir.logWeightsAgainst(spark, dir, corpus, col("text"),
        col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inline = Dsir.logWeights(corpus, col("text"), col("doc_id"),
        col("domain") === "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(against === inline)
  }

  test("appendScoredAgainst is idempotent under replay") {
    val stats = graft.TempDirs.create("dsirstats2").toString
    val out = graft.TempDirs.create("dsirout").toString + "/scored"
    Dsir.buildStats(corpus, col("text"), col("doc_id"),
      col("domain") === "t", stats)
    val batch = corpus.filter(col("doc_id") < 30)
    Dsir.appendScoredAgainst(spark, stats, out, batch, col("text"), col("doc_id"))
    Dsir.appendScoredAgainst(spark, stats, out, batch, col("text"), col("doc_id"))
    val rows = spark.read.parquet(out).collect()
    assert(rows.length === 30) // the replay appended nothing
  }

  test("temperature → 0 degenerates to hard top-n by weight") {
    val w = Dsir.logWeights(corpus, col("text"), col("doc_id"),
      col("domain") === "t")
    // the cyclic fixture vocab makes many docs share a logw, so the
    // ID sets may differ under ties — the WEIGHT multiset is the
    // τ→0 invariant
    val hard = w.orderBy(col("logw").desc, col("doc_id").asc).limit(20)
      .collect().map(_.getDouble(2)).sorted.toSeq
    val cold = Dsir.resampleTopN(w, n = 20, temperature = 1e-6)
      .collect().map(_.getDouble(1)).sorted.toSeq
    assert(cold === hard)
  }
}
