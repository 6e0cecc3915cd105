package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data Selection with Importance Resampling (public: Xie et al.
  * 2023, "Data Selection for Language Models via Importance
  * Resampling"): score every raw document by how much more likely its
  * hashed-n-gram bag is under a target-domain distribution than under
  * the raw-corpus distribution, then resample the raw corpus by those
  * importance weights via Gumbel top-k. The standard way to tilt a
  * 100 TB crawl toward a small high-quality domain (Wikipedia-like,
  * in-language, in-register) WITHOUT hard filtering: every document
  * keeps a nonzero chance, weighted by domain affinity.
  *
  * Model: unigrams and bigrams are hashed into `buckets` slots (the
  * paper's hashed bag-of-n-grams); both distributions get add-α
  * smoothing. log w(d) = Σ_b c_d(b)·(ln p_t(b) − ln p_r(b)).
  * Selection key = log w / τ + Gumbel(u_d) with u_d a DETERMINISTIC
  * md5-derived uniform ([[Mix.ordHash]] — the repo's single
  * order/selection primitive), so the resample is reproducible
  * bit-for-bit in any engine with md5 (same portability contract as
  * [[Sampling.bernoulliPortable]]) and stable under retries and
  * repartitioning.
  *
  * Scale shape: the corpus explodes to grams ONCE into per-doc bucket
  * counts (the big table, persisted across its two consumers); both
  * global distributions derive from the per-doc counts by map-side-
  * combined aggregation (never a second corpus pass); scoring is one
  * key-equality join of counts against the 4096-row bucket table plus
  * a broadcast of the 1-row totals; the resample is a bounded top-n
  * (TakeOrderedAndProject), never a full sort. No collect, no RNG
  * state, no driver loop.
  */
object Dsir {

  private def tokens(text: Column): Column =
    split(lower(trim(text)), "\\s+")

  /** Portable gram→bucket: the first 4 hex nibbles of md5(gram) mod
    * `buckets` — engine-portable verbatim (md5 + hex parse), uniform
    * for any `buckets` dividing 65536. */
  def bucketOf(gram: Column, buckets: Int): Column =
    pmod(conv(substring(md5(gram.cast(BinaryType)), 1, 4), 16, 10)
      .cast(LongType), lit(buckets.toLong))

  /** (doc_id, b, c) — per-document hashed-gram bucket counts over
    * unigrams ∪ bigrams (bigram text = "w1 w2"). One explosion, one
    * map-side-combined count. */
  def docBucketCounts(docs: DataFrame, text: Column, id: Column,
      buckets: Int = 4096): DataFrame = {
    require(buckets > 0 && 65536 % buckets == 0,
      s"buckets must divide 65536 for a uniform 4-nibble hash: $buckets")
    val t = tokens(text)
    val base = docs.select(id.as("doc_id"), t.as("__t"))
    val uni = base.select(col("doc_id"), explode(col("__t")).as("g"))
    // arrays_zip + concat after the explode rather than a zip_with
    // lambda: plain codegen expressions instead of a CodegenFallback
    // higher-order function (same swap as LangModel's n-gram tables)
    val bi = base.select(col("doc_id"),
        explode(arrays_zip(
          slice(col("__t"), lit(1), size(col("__t")) - 1),
          slice(col("__t"), lit(2), size(col("__t")) - 1))).as("bg"))
      .select(col("doc_id"),
        concat(col("bg.0"), lit(" "), col("bg.1")).as("g"))
    uni.unionByName(bi)
      .select(col("doc_id"), bucketOf(col("g"), buckets).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
  }

  /** Per-document hashed-n-gram importance log-weights. `targetPred`
    * marks the target-domain rows of `docs` (e.g. a language or
    * source predicate — DSIR fits both distributions on columns of
    * the SAME table here; fitting the target on a separate corpus is
    * the same plan with a second [[docBucketCounts]] call). Output
    * (doc_id, n_grams, logw), logw rounded for engine-portable
    * comparison; higher = more target-like. */
  def logWeights(docs: DataFrame, text: Column, id: Column,
      targetPred: Column, buckets: Int = 4096, alpha: Double = 0.25,
      roundTo: Int = 6): DataFrame = {
    require(alpha > 0, "add-alpha smoothing needs alpha > 0")
    // persisted: the per-doc table feeds BOTH the global-distribution
    // derivation and the scoring join — without persist the corpus
    // would re-explode per consumer (same convention as LangModel)
    val d = docBucketCounts(docs, text, id, buckets).persist()
    val flags = docs.select(id.as("doc_id"),
      targetPred.cast(BooleanType).as("__is_t"))
    val global = d.join(flags, Seq("doc_id"))
      .groupBy("b").agg(sum("c").as("cr"),
        sum(when(col("__is_t"), col("c")).otherwise(0L)).as("ct"))
    val totals = global.agg(sum("cr").as("nr"), sum("ct").as("nt"))
    val aB = lit(alpha * buckets)
    val lratio = log((col("ct") + alpha) / (col("nt") + aB)) -
      log((col("cr") + alpha) / (col("nr") + aB))
    // broadcast: the bucket-stats table is bounded by `buckets` rows
    // BY CONSTRUCTION (4096 default), so the big per-doc table is
    // never exchanged for this join at any corpus scale
    val out = d.join(broadcast(global), Seq("b")).crossJoin(broadcast(totals))
      .groupBy("doc_id")
      .agg(sum("c").as("n_grams"),
        round(sum(col("c") * lratio), roundTo).as("logw"))
    Layout.pin(out, d)
  }

  /** Persist DSIR bucket statistics — the write-once half of the
    * incremental shape (fit target/raw distributions on a reference
    * corpus ONCE, score every crawl increment against them):
    * `path/buckets` = (b, cr, ct), `path/meta` = (nr, nt, buckets)
    * with totals derived FROM the stored bucket table (one source of
    * truth) and written LAST as the commit marker. */
  def buildStats(docs: DataFrame, text: Column, id: Column,
      targetPred: Column, path: String, buckets: Int = 4096): Unit = {
    val spark = docs.sparkSession
    val flags = docs.select(id.as("doc_id"),
      targetPred.cast(BooleanType).as("__is_t"))
    docBucketCounts(docs, text, id, buckets)
      .join(flags, Seq("doc_id"))
      .groupBy("b").agg(sum("c").as("cr"),
        sum(when(col("__is_t"), col("c")).otherwise(0L)).as("ct"))
      .write.mode("overwrite").parquet(s"$path/buckets")
    spark.read.parquet(s"$path/buckets")
      .agg(sum("cr").as("nr"), sum("ct").as("nt"),
        lit(buckets).as("buckets"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Score documents against STORED bucket statistics
    * ([[buildStats]]). Add-α smoothing handles what the reference
    * corpus never saw: a bucket absent from the store scores
    * ln(α/(nt+αB)) − ln(α/(nr+αB)) (coalesce to 0 on both counts).
    * Same output contract as [[logWeights]]; stats fit on the scored
    * corpus itself make the two identical (spec-proven). */
  def logWeightsAgainst(spark: org.apache.spark.sql.SparkSession,
      path: String, docs: DataFrame, text: Column, id: Column,
      alpha: Double = 0.25, roundTo: Int = 6): DataFrame = {
    require(alpha > 0, "add-alpha smoothing needs alpha > 0")
    val gb = spark.read.parquet(s"$path/buckets")
    val metaDf = spark.read.parquet(s"$path/meta")
    val buckets = metaDf.head().getAs[Int]("buckets")
    val aB = lit(alpha) * col("buckets")
    val lratio =
      log((coalesce(col("ct"), lit(0L)) + alpha) / (col("nt") + aB)) -
      log((coalesce(col("cr"), lit(0L)) + alpha) / (col("nr") + aB))
    // broadcast: bounded by `buckets` rows — see [[logWeights]]
    docBucketCounts(docs, text, id, buckets)
      .join(broadcast(gb), Seq("b"), "left")
      .crossJoin(broadcast(metaDf))
      .groupBy("doc_id")
      .agg(sum("c").as("n_grams"),
        round(sum(col("c") * lratio), roundTo).as("logw"))
  }

  /** Per-batch body of a streamed DSIR scorer (a
    * [[graft.streaming.StreamingIngest.foreachBatch]] body): score
    * `batch` against the stored bucket statistics and append
    * (doc_id, n_grams, logw) rows to `outPath`. The stats store is the
    * only state and the stream never changes it.
    * Idempotent under foreachBatch replay via the same doc_id
    * anti-join every incremental appender uses. */
  def appendScoredAgainst(spark: org.apache.spark.sql.SparkSession,
      statsPath: String, outPath: String, batch: DataFrame, text: Column,
      id: Column, alpha: Double = 0.25, roundTo: Int = 6): Unit = {
    val scored = logWeightsAgainst(spark, statsPath, batch, text, id,
      alpha, roundTo)
    Layout.appendAbsent(scored, Layout.readIfExists(spark, outPath)(scored),
      outPath, "doc_id")
  }

  /** Deterministic standard-Gumbel noise for `id`: u ∈ (0,1) from the
    * first 6 hex nibbles of the order hash (u = (v+0.5)/16^6, exactly
    * representable), then −ln(−ln u) — the Gumbel-max construction
    * over a portable uniform. */
  def gumbelKey(id: Column, seed: Long): Column = {
    val v = conv(substring(Mix.ordHash(id, seed), 1, 6), 16, 10)
      .cast(DoubleType)
    -log(-log((v + lit(0.5)) / lit(16777216.0)))
  }

  /** Gumbel top-n resample over [[logWeights]] output: key =
    * logw/τ + Gumbel(u_doc); take the n largest keys. Equivalent to
    * sampling n documents without replacement with probability ∝
    * exp(logw/τ) (Gumbel-max trick, public) — τ→0 degenerates to hard
    * top-n by weight, large τ to uniform. A bounded top-n
    * (TakeOrderedAndProject), never a global sort; keys rounded so
    * the selection order is engine-portable. */
  def resampleTopN(weights: DataFrame, n: Int, temperature: Double = 1.0,
      seed: Long = 7L, roundTo: Int = 6): DataFrame = {
    require(temperature > 0, s"temperature must be positive: $temperature")
    weights.select(col("doc_id"), col("logw"),
        round(col("logw") / temperature + gumbelKey(col("doc_id"), seed),
          roundTo).as("skey"))
      .orderBy(col("skey").desc, col("doc_id").asc)
      .limit(n)
  }
}
