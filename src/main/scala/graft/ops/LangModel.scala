package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Count-based n-gram language-model scoring — the classic
  * perplexity quality filter of a pretraining pipeline (KenLM-style
  * filtering, public: Heafield 2011; CCNet, Wenzek et al. 2020): fit
  * bigram statistics on a corpus, score each document by its average
  * negative log-likelihood under add-k smoothing, and drop/deprioritize
  * the tail. Self-scoring (fit and score on the same corpus) flags
  * documents whose token transitions are atypical for the corpus —
  * boilerplate, gibberish, wrong-language residue.
  *
  * Model: P(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V), where c(w1·)
  * is w1's count as a bigram HISTORY (the standard MLE denominator)
  * and V the corpus vocabulary size. Doc score = Σ c_d(w1,w2)·−ln P
  * / Σ c_d — the per-bigram mean NLL (exp of it = perplexity).
  *
  * Scale shape: the corpus explodes to bigrams ONCE into per-doc
  * counts (the big table); global counts derive from per-doc counts
  * (map-side-combined aggregations, never a second corpus pass);
  * scoring is two key-equality joins of counts against counts plus a
  * broadcast of the 1-row vocabulary scalar. No collect, no global
  * sort, no per-doc state.
  */
object LangModel {

  private def tokens(text: Column): Column =
    split(lower(trim(text)), "\\s+")

  /** Round-robin the docs wide BELOW the n-gram projection: the
    * zip_with/transform explosions are interpreted higher-order
    * expressions, and a small parquet corpus scans as 1-2 partitions
    * — without this every count table serializes its explosion on a
    * task or two (same rule as the decontamination and span gram
    * streams). */
  private def spread(docs: DataFrame, text: Column, id: Column): DataFrame = {
    val sel = docs.select(id.as("doc_id"), text.as("__text"))
    val target = docs.sparkSession.sessionState.conf.numShufflePartitions
    // scale-adaptive: a small-corpus scan arrives as 1-2 partitions
    // and must be spread or the n-gram projections serialize on a
    // task; a production-scale scan is already wider than the target,
    // and round-robin shuffling the full text again would be pure
    // cost. Counts are partition-order independent and the NLL sums
    // are rounded, so the branch never changes results.
    if (sel.rdd.getNumPartitions >= target) sel else sel.repartition(target)
  }

  /** (doc_id, __t) — the spread, tokenized corpus. Every n-gram table
    * of one scoring call derives from ONE of these (persisted by the
    * caller), so the corpus is scanned and spread once per score, not
    * once per n-gram order. */
  private def tokenized(docs: DataFrame, text: Column, id: Column): DataFrame =
    spread(docs, text, id).select(col("doc_id"), tokens(col("__text")).as("__t"))

  /** (doc_id, w1, w2) — exploded bigrams from a [[tokenized]] frame.
    * `arrays_zip(slice, slice)` rather than `zip_with`: arrays_zip is a
    * plain codegen expression, zip_with's lambda is CodegenFallback
    * (interpreted per row on the hottest projection of the family). */
  private def bigramsFromTok(tok: DataFrame): DataFrame =
    tok.select(col("doc_id"),
        explode(arrays_zip(
          slice(col("__t"), lit(1), size(col("__t")) - 1),
          slice(col("__t"), lit(2), size(col("__t")) - 1))).as("bg"))
      .select(col("doc_id"), col("bg.0").as("w1"), col("bg.1").as("w2"))

  /** (doc_id, w1, w2) — ONE generator emitting every token position:
    * w2 is null at the last position. The bigram table is the
    * w2-non-null subset and unigram/vocabulary statistics fall out of
    * w1, so a self-scoring model needs exactly ONE corpus explosion —
    * no separate unigram pass and, crucially, no persist of the full
    * tokenized corpus across passes (at production scale that persist
    * caches the entire tokenized corpus; guide §2.3/§2.4). All plain
    * codegen expressions: concat/slice/arrays_zip. Null text → null
    * padded array → explode emits nothing, exactly like the separate
    * passes did. */
  private def ngrams2(tok: DataFrame): DataFrame = {
    val n = size(col("__t"))
    val p = concat(col("__t"), array(lit(null).cast(StringType)))
    tok.select(col("doc_id"),
        explode(arrays_zip(slice(p, lit(1), n), slice(p, lit(2), n))).as("g"))
      .select(col("doc_id"), col("g.0").as("w1"), col("g.1").as("w2"))
  }

  /** (doc_id, w1, w2, w3) — [[ngrams2]]'s trigram sibling: one row per
    * token position, w2/w3 null in the last one/two positions. One
    * explosion serves the trigram table (w3 non-null), the bigram
    * table (w2 non-null) and the unigram/vocabulary statistics (w1),
    * collapsing the three corpus passes of the old
    * trigram+bigram+unigram derivation (r16 verdict item 4). */
  private def ngrams3(tok: DataFrame): DataFrame = {
    val n = size(col("__t"))
    val nullS = lit(null).cast(StringType)
    val p = concat(col("__t"), array(nullS, nullS))
    tok.select(col("doc_id"),
        explode(arrays_zip(slice(p, lit(1), n), slice(p, lit(2), n),
          slice(p, lit(3), n))).as("g"))
      .select(col("doc_id"), col("g.0").as("w1"), col("g.1").as("w2"),
        col("g.2").as("w3"))
  }

  /** (doc_id, w1, w2, w3) — exploded trigrams from a [[tokenized]]
    * frame. The `when` guard matters: slice length (size − 2) would be
    * negative for sub-3-token docs, so they must short-circuit to a
    * typed empty array (same guard as Mix.upsample's epoch sequence). */
  private def trigramsFromTok(tok: DataFrame): DataFrame = {
    val n = size(col("__t"))
    val emptyTg = array().cast(ArrayType(StructType(Seq(
      StructField("0", StringType), StructField("1", StringType),
      StructField("2", StringType)))))
    tok.select(col("doc_id"),
        explode(when(n >= 3, arrays_zip(
            slice(col("__t"), lit(1), n - 2),
            slice(col("__t"), lit(2), n - 2),
            slice(col("__t"), lit(3), n - 2)))
          .otherwise(emptyTg)).as("tg"))
      .select(col("doc_id"), col("tg.0").as("w1"), col("tg.1").as("w2"),
        col("tg.2").as("w3"))
  }

  /** (doc_id, w1, w2, c) — per-document bigram counts. Documents with
    * fewer than two tokens emit nothing. */
  def docBigramCounts(docs: DataFrame, text: Column, id: Column): DataFrame =
    bigramsFromTok(tokenized(docs, text, id))
      .groupBy("doc_id", "w1", "w2")
      .agg(count(lit(1)).as("c"))

  /** (doc_id, w1, w2, w3, c) — per-document trigram counts. */
  def docTrigramCounts(docs: DataFrame, text: Column, id: Column): DataFrame =
    trigramsFromTok(tokenized(docs, text, id))
      .groupBy("doc_id", "w1", "w2", "w3")
      .agg(count(lit(1)).as("c"))

  /** Jelinek–Mercer interpolated trigram scoring (public: Jelinek &
    * Mercer 1980; the standard fixed-weight interpolation):
    * P̂(w3|w1w2) = λ3·c123/c12 + λ2·c23/c2· + λ1·(c3+k)/(N+kV) —
    * trigram and bigram MLE backed by an add-k unigram floor, so the
    * score is finite for every in-corpus trigram. Output
    * (doc_id, n_trigrams, nll); docs under three tokens emit nothing.
    * Same one-declarative-plan shape as [[scoreBigram]]: one trigram
    * and one bigram explosion, global counts derived from per-doc
    * counts, five key-equality joins + one broadcast scalar row. */
  def scoreTrigram(docs: DataFrame, text: Column, id: Column,
      k: Double = 0.5, l3: Double = 0.6, l2: Double = 0.3,
      l1: Double = 0.1, roundTo: Int = 6): DataFrame = {
    require(k > 0 && l3 >= 0 && l2 >= 0 && l1 > 0,
      "need k > 0 and a positive unigram floor weight")
    // ONE corpus explosion feeds every n-gram table (r16 verdict item
    // 4): [[ngrams3]] emits each position's (w1, w2, w3) view with
    // null tails, so the per-doc trigram table (w3 non-null), the
    // bigram type table (w2 non-null) and the unigram table (w1) are
    // all filters/aggregations of ONE aggregated frame. Only that
    // small aggregated frame persists — the corpus-sized tokenized
    // frame of the old three-pass shape no longer needs caching.
    val dAll = ngrams3(tokenized(docs, text, id))
      .groupBy("doc_id", "w1", "w2", "w3").agg(count(lit(1)).as("c"))
      .persist()
    val d3 = dAll.filter(col("w3").isNotNull)
    val c123 = d3.groupBy("w1", "w2", "w3").agg(sum("c").as("c123")).persist()
    val c12 = c123.groupBy("w1", "w2").agg(sum("c123").as("c12"))
    val c2all = dAll.filter(col("w2").isNotNull)
      .groupBy("w1", "w2").agg(sum("c").as("c2")).persist()
    val c2hist = c2all.groupBy("w1").agg(sum("c2").as("c2hist"))
    // every position contributes exactly its token as w1, so unigram
    // counts and the (N, V) scalars fall out of the same frame —
    // no token explode at all
    val c1 = dAll.groupBy("w1").agg(sum("c").as("c1"))
      .select(col("w1").as("tok"), col("c1")).persist()
    val nv = c1.agg(sum("c1").as("n_total"), count(lit(1)).as("v"))
    val p = lit(l3) * (col("c123") / col("c12")) +
      lit(l2) * (col("c2") / col("c2hist")) +
      lit(l1) * ((col("c1") + k) / (col("n_total") + lit(k) * col("v")))
    // P̂ is a function of the trigram TYPE alone, so the five stat
    // joins run on the type table (|types| rows) and the big per-doc
    // table is exchanged ONCE, against the finished p-table — before
    // this the per-doc table was shuffled through five different join
    // keys (w1w2w3 → w1w2 → w2w3 → w2 → w3).
    val ptab = c123.join(c12, Seq("w1", "w2"))
      .join(c2all.select(col("w1").as("w2"), col("w2").as("w3"),
        col("c2")), Seq("w2", "w3"))
      .join(c2hist.select(col("w1").as("w2"), col("c2hist")), Seq("w2"))
      .join(c1.select(col("tok").as("w3"), col("c1")), Seq("w3"))
      .crossJoin(broadcast(nv))
      .select(col("w1"), col("w2"), col("w3"), p.as("__p"))
    val scored = d3.join(ptab, Seq("w1", "w2", "w3"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_trigrams"),
        round(sum(col("c") * -log(col("__p"))) / sum(col("c")),
          roundTo).as("nll"))
    Layout.pin(scored, dAll, c123, c2all, c1)
  }

  /** Persist bigram statistics fit on a reference corpus — the
    * write-once half of the CCNet shape (fit on a trusted corpus,
    * score every crawl increment against it): `path/pairs` =
    * (w1, w2, c2), `path/hist` = (w1, c1) derived FROM the stored
    * pairs (one source of truth), `path/meta` = the vocabulary size,
    * written LAST as the commit marker. */
  def buildBigramStats(docs: DataFrame, text: Column, id: Column,
      path: String): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE corpus explosion for the pair table + V ([[ngrams2]]): the
    // persisted frame is the aggregated TYPE table (plus one null-w2
    // row per distinct last token), not the tokenized corpus — the
    // only thing cached across the two jobs is vocabulary-sized
    val gAll = ngrams2(tokenized(docs, text, id))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2")).persist()
    val v = try {
      gAll.filter(col("w2").isNotNull)
        .write.mode("overwrite").parquet(s"$path/pairs")
      gAll.agg(countDistinct("w1")).head().getLong(0)
    } finally gAll.unpersist()
    spark.read.parquet(s"$path/pairs")
      .groupBy("w1").agg(sum("c2").as("c1"))
      .write.mode("overwrite").parquet(s"$path/hist")
    Seq(v).toDF("v").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Score documents against STORED bigram statistics
    * ([[buildBigramStats]]) — add-k smoothing handles what the
    * reference corpus never saw: an unseen bigram of a seen history
    * scores k/(c1+kV), a fully-unseen history k/(kV) = 1/V. Same
    * output contract as [[scoreBigram]]; when the stats were fit on
    * the scored corpus itself the two are identical (spec-proven). */
  def scoreBigramAgainst(spark: org.apache.spark.sql.SparkSession,
      path: String, docs: DataFrame, text: Column, id: Column,
      k: Double = 0.5, roundTo: Int = 6): DataFrame = {
    require(k > 0, "add-k smoothing needs k > 0")
    val pairs = spark.read.parquet(s"$path/pairs")
    val hist = spark.read.parquet(s"$path/hist")
    val vDf = spark.read.parquet(s"$path/meta")
    docBigramCounts(docs, text, id)
      .join(pairs, Seq("w1", "w2"), "left")
      .join(hist, Seq("w1"), "left")
      .crossJoin(broadcast(vDf))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"),
        round(
          sum(col("c") * -log((coalesce(col("c2"), lit(0L)) + k) /
            (coalesce(col("c1"), lit(0L)) + lit(k) * col("v")))) /
            sum(col("c")),
          roundTo).as("nll"))
  }

  /** Persist trigram statistics — [[buildBigramStats]]'s higher-order
    * sibling, the write-once half of stored Jelinek–Mercer scoring:
    * `path/tri` = (w1, w2, w3, c123), `path/pairs` = (w1, w2, c2),
    * `path/uni` = (tok, c1), `path/meta` = (n_total, v) derived FROM
    * the stored unigrams (one source of truth) and written LAST as the
    * commit marker. The history tables (c12, c2hist) are NOT stored:
    * they derive from tri/pairs at read time — aggregations of the
    * stats tables, never a corpus rescan. */
  def buildTrigramStats(docs: DataFrame, text: Column, id: Column,
      path: String): Unit = {
    val spark = docs.sparkSession
    // ONE corpus explosion feeds all three stats writes ([[ngrams3]]):
    // the persisted frame is the aggregated trigram TYPE table (w2/w3
    // null-tail rows included), so the pair and unigram tables are
    // aggregations of it — the old shape cached the full tokenized
    // corpus across the three write jobs
    val gAll = ngrams3(tokenized(docs, text, id))
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c")).persist()
    try {
      gAll.filter(col("w3").isNotNull)
        .select(col("w1"), col("w2"), col("w3"), col("c").as("c123"))
        .write.mode("overwrite").parquet(s"$path/tri")
      gAll.filter(col("w2").isNotNull)
        .groupBy("w1", "w2").agg(sum("c").as("c2"))
        .write.mode("overwrite").parquet(s"$path/pairs")
      gAll.groupBy("w1").agg(sum("c").as("c1"))
        .select(col("w1").as("tok"), col("c1"))
        .write.mode("overwrite").parquet(s"$path/uni")
    } finally gAll.unpersist()
    spark.read.parquet(s"$path/uni")
      .agg(sum("c1").as("n_total"), count(lit(1)).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Jelinek–Mercer scoring against STORED trigram statistics
    * ([[buildTrigramStats]]). Reference-corpus misses degrade
    * gracefully term by term: an unseen trigram (or bigram) simply
    * contributes nothing to its interpolation slot (coalesce to 0 —
    * the history denominators come from the same stored tables, so a
    * present numerator always has its denominator), and the add-k
    * unigram floor keeps every probability positive, unseen words
    * scoring k/(N+kV). Stats fit on the scored corpus itself make this
    * identical to [[scoreTrigram]] (spec-proven). Same output
    * contract: (doc_id, n_trigrams, nll); sub-3-token docs emit
    * nothing. */
  def scoreTrigramAgainst(spark: org.apache.spark.sql.SparkSession,
      path: String, docs: DataFrame, text: Column, id: Column,
      k: Double = 0.5, l3: Double = 0.6, l2: Double = 0.3,
      l1: Double = 0.1, roundTo: Int = 6): DataFrame = {
    require(k > 0 && l3 >= 0 && l2 >= 0 && l1 > 0,
      "need k > 0 and a positive unigram floor weight")
    val c123 = spark.read.parquet(s"$path/tri")
    val c12 = c123.groupBy("w1", "w2").agg(sum("c123").as("c12"))
    val c2 = spark.read.parquet(s"$path/pairs")
    val c2h = c2.groupBy("w1").agg(sum("c2").as("c2hist"))
    val c1 = spark.read.parquet(s"$path/uni")
    val nv = spark.read.parquet(s"$path/meta")
    val p = lit(l3) * coalesce(col("c123") / col("c12"), lit(0.0)) +
      lit(l2) * coalesce(col("c2") / col("c2hist"), lit(0.0)) +
      lit(l1) * ((coalesce(col("c1"), lit(0L)) + k) /
        (col("n_total") + lit(k) * col("v")))
    docTrigramCounts(docs, text, id)
      .join(c123, Seq("w1", "w2", "w3"), "left")
      .join(c12, Seq("w1", "w2"), "left")
      .join(c2.select(col("w1").as("w2"), col("w2").as("w3"), col("c2")),
        Seq("w2", "w3"), "left")
      .join(c2h.select(col("w1").as("w2"), col("c2hist")), Seq("w2"), "left")
      .join(c1.select(col("tok").as("w3"), col("c1")), Seq("w3"), "left")
      .crossJoin(broadcast(nv))
      .groupBy("doc_id")
      .agg(sum("c").as("n_trigrams"),
        round(sum(col("c") * -log(p)) / sum(col("c")), roundTo).as("nll"))
  }

  /** Interpolated TRIGRAM Kneser–Ney (Chen & Goodman 1999's
    * interpolated form, one fixed discount D per level):
    *
    *   P3(w3|w1w2) = max(c(w1w2w3)−D, 0)/c(w1w2·)
    *               + D·N1+(w1w2·)/c(w1w2·) · P2(w3|w2)
    *   P2(w3|w2)   = max(N1+(·w2w3)−D, 0)/N1+(·w2·)
    *               + D·N1+(w2·*)/N1+(·w2·) · Pcont(w3)
    *   Pcont(w3)   = (N1+(·w3) + k)/(T + k·V)
    *
    * The middle level runs on trigram-TYPE continuation counts (the
    * KN signature, one order down): N1+(·w2w3) = distinct predecessors
    * of bigram (w2w3), N1+(·w2·) = distinct trigram types with middle
    * w2, N1+(w2·*) = distinct w3 among those types. The base level is
    * the bigram model's continuation distribution unchanged (bigram
    * types, add-k floor), so lm_kn_score and this model share their
    * floor arithmetic. Backoff on missing stats mirrors the bigram
    * rule level by level: unseen history (w1w2) → P2; w2 never a
    * trigram middle → Pcont; unseen word → k/(T+kV).
    *
    * Scale shape: one trigram + one bigram explosion; every statistic
    * is an aggregation of the two TYPE tables (no extra corpus pass);
    * scoring is five key-equality joins + one broadcast (T, V) row.
    * Output (doc_id, n_trigrams, nll); sub-3-token docs emit nothing. */
  def scoreKnTrigram(docs: DataFrame, text: Column, id: Column,
      discount: Double = 0.75, k: Double = 0.5,
      roundTo: Int = 6): DataFrame = {
    require(discount > 0 && discount < 1, "kneser-ney needs 0 < D < 1")
    require(k > 0, "continuation floor needs k > 0")
    // ONE corpus explosion + type-level p-table — see [[scoreTrigram]]
    val dAll = ngrams3(tokenized(docs, text, id))
      .groupBy("doc_id", "w1", "w2", "w3").agg(count(lit(1)).as("c"))
      .persist()
    val d3 = dAll.filter(col("w3").isNotNull)
    // both TYPE tables feed several derivations each — persist like
    // the bigram model's
    val c123 = d3.groupBy("w1", "w2", "w3").agg(sum("c").as("c123")).persist()
    val c2 = dAll.filter(col("w2").isNotNull)
      .groupBy("w1", "w2").agg(sum("c").as("c2")).persist()
    val c12 = c123.groupBy("w1", "w2")
      .agg(sum("c123").as("c12"), count(lit(1)).as("n1lead12"))
    val n1c23 = c123.groupBy("w2", "w3").agg(count(lit(1)).as("n1c23"))
    val mid = n1c23.groupBy("w2")
      .agg(sum("n1c23").as("n1mid"), count(lit(1)).as("n1out"))
    val n1c = c2.groupBy("w2").agg(count(lit(1)).as("n1cont"))
      .select(col("w2").as("w3"), col("n1cont"))
    val tv = c2.agg(count(lit(1)).as("t"))
      .crossJoin(dAll.agg(countDistinct("w1").as("v")))
    // inner joins: a trigram present in d3 implies every statistic
    // exists (its own history, its own middle, and bigram (w2,w3) ⇒
    // n1cont(w3) ≥ 1)
    val ptab = c123.join(c12, Seq("w1", "w2"))
      .join(n1c23, Seq("w2", "w3"))
      .join(mid, Seq("w2"))
      .join(n1c, Seq("w3"))
      .crossJoin(broadcast(tv))
      .select(col("w1"), col("w2"), col("w3"),
        knP3(discount, k).as("__p"))
    val scored = d3.join(ptab, Seq("w1", "w2", "w3"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_trigrams"),
        round(sum(col("c") * -log(col("__p"))) / sum(col("c")),
          roundTo).as("nll"))
    Layout.pin(scored, dAll, c123, c2)
  }

  /** The trigram-KN probability expression over joined count columns
    * (c123, c12, n1lead12, n1c23, n1mid, n1out, n1cont, t, v) —
    * null-tolerant level by level so the store-miss (left-join) path
    * shares it exactly like [[knP]]. */
  private def knP3(discount: Double, k: Double): Column = {
    val p1 = (coalesce(col("n1cont"), lit(0L)) + k) /
      (col("t") + lit(k) * col("v"))
    val p2 = when(col("n1mid").isNotNull,
      greatest(coalesce(col("n1c23"), lit(0L)) - discount, lit(0.0)) /
        col("n1mid") +
        lit(discount) * col("n1out") / col("n1mid") * p1)
      .otherwise(p1)
    when(col("c12").isNotNull,
      greatest(coalesce(col("c123"), lit(0L)) - discount, lit(0.0)) /
        col("c12") +
        lit(discount) * col("n1lead12") / col("c12") * p2)
      .otherwise(p2)
  }

  /** Persist trigram Kneser–Ney statistics — the two TYPE tables are
    * the whole model: `path/tri` = (w1, w2, w3, c123), `path/pairs` =
    * (w1, w2, c2) for the continuation floor, `path/meta` = (t, v)
    * derived from pairs and written LAST as the commit marker. Every
    * other statistic (history mass, leader/continuation type counts)
    * derives from the stored tables at read time. */
  def buildKnTrigramStats(docs: DataFrame, text: Column, id: Column,
      path: String): Unit = {
    val spark = docs.sparkSession
    // ONE corpus explosion for both type tables + V — see
    // [[buildTrigramStats]]
    val gAll = ngrams3(tokenized(docs, text, id))
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c")).persist()
    val v = try {
      gAll.filter(col("w3").isNotNull)
        .select(col("w1"), col("w2"), col("w3"), col("c").as("c123"))
        .write.mode("overwrite").parquet(s"$path/tri")
      gAll.filter(col("w2").isNotNull)
        .groupBy("w1", "w2").agg(sum("c").as("c2"))
        .write.mode("overwrite").parquet(s"$path/pairs")
      gAll.agg(countDistinct("w1")).head().getLong(0)
    } finally gAll.unpersist()
    spark.read.parquet(s"$path/pairs")
      .agg(count(lit(1)).as("t")).select(col("t"), lit(v).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Score documents against STORED trigram-KN statistics
    * ([[buildKnTrigramStats]]) — store misses degrade through [[knP3]]
    * level by level (unseen trigram → history backoff; unseen history
    * → the middle distribution; w2 never a stored middle → the
    * continuation floor; unseen word → k/(T+kV)). Stats fit on the
    * scored corpus itself make this identical to [[scoreKnTrigram]]
    * (spec-proven). Empty-corpus stores are refused like the bigram
    * store (V = 0 would make every score ±Inf). */
  def scoreKnTrigramAgainst(spark: org.apache.spark.sql.SparkSession,
      path: String, docs: DataFrame, text: Column, id: Column,
      discount: Double = 0.75, k: Double = 0.5,
      roundTo: Int = 6): DataFrame = {
    require(discount > 0 && discount < 1, "kneser-ney needs 0 < D < 1")
    require(k > 0, "continuation floor needs k > 0")
    val c123 = spark.read.parquet(s"$path/tri")
    val pairs = spark.read.parquet(s"$path/pairs")
    val tv = spark.read.parquet(s"$path/meta")
    val mrow = tv.head()
    require(mrow.getLong(mrow.fieldIndex("v")) > 0,
      s"kn trigram stats at $path were fit on an empty corpus (V = 0)")
    val c12 = c123.groupBy("w1", "w2")
      .agg(sum("c123").as("c12"), count(lit(1)).as("n1lead12"))
    val n1c23 = c123.groupBy("w2", "w3").agg(count(lit(1)).as("n1c23"))
    val mid = n1c23.groupBy("w2")
      .agg(sum("n1c23").as("n1mid"), count(lit(1)).as("n1out"))
    val n1c = pairs.groupBy("w2").agg(count(lit(1)).as("n1cont"))
      .select(col("w2").as("w3"), col("n1cont"))
    docTrigramCounts(docs, text, id)
      .join(c123, Seq("w1", "w2", "w3"), "left")
      .join(c12, Seq("w1", "w2"), "left")
      .join(n1c23, Seq("w2", "w3"), "left")
      .join(mid, Seq("w2"), "left")
      .join(n1c, Seq("w3"), "left")
      .crossJoin(broadcast(tv))
      .groupBy("doc_id")
      .agg(sum("c").as("n_trigrams"),
        round(sum(col("c") * -log(knP3(discount, k))) / sum(col("c")),
          roundTo).as("nll"))
  }

  /** Per-batch body of a streamed perplexity scorer (a
    * [[graft.streaming.StreamingIngest.foreachBatch]] body), the CCNet
    * fit-once/score-arrivals shape: score `batch` against the stored
    * bigram statistics and append (doc_id, n_bigrams, nll) rows to
    * `outPath`. The stats store is the only state and the stream never
    * changes it.
    * Idempotent under foreachBatch replay (normal at-least-once
    * restart behavior) via the same doc_id anti-join the incremental
    * dedup indexes use — a replayed batch appends nothing, so the sink
    * holds exactly one scored row per document. */
  def appendScoredAgainst(spark: org.apache.spark.sql.SparkSession,
      statsPath: String, outPath: String, batch: DataFrame, text: Column,
      id: Column, k: Double = 0.5, roundTo: Int = 6): Unit = {
    val scored = scoreBigramAgainst(spark, statsPath, batch, text, id, k, roundTo)
    Layout.appendAbsent(scored, Layout.readIfExists(spark, outPath)(scored),
      outPath, "doc_id")
  }

  /** Score every document against bigram statistics of the SAME
    * corpus. Output (doc_id, n_bigrams, nll): mean per-bigram negative
    * log-likelihood, rounded to `roundTo` for engine-portable
    * comparison. Higher = more atypical for the corpus. */
  def scoreBigram(docs: DataFrame, text: Column, id: Column,
      k: Double = 0.5, roundTo: Int = 6): DataFrame = {
    require(k > 0, "add-k smoothing needs k > 0")
    // ONE corpus explosion + type-level p-table — see [[scoreTrigram]]:
    // the per-position frame persists because it feeds the type-count
    // derivation, the vocabulary scalar AND the scoring join; nothing
    // corpus-sized is cached
    val dAll = ngrams2(tokenized(docs, text, id))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("c"))
      .persist()
    val d = dAll.filter(col("w2").isNotNull)
    val c2 = d.groupBy("w1", "w2").agg(sum("c").as("c2")).persist()
    val c1 = c2.groupBy("w1").agg(sum("c2").as("c1"))
    val v = dAll.agg(countDistinct("w1").as("v"))
    val ptab = c2.join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .select(col("w1"), col("w2"),
        ((col("c2") + k) / (col("c1") + lit(k) * col("v"))).as("__p"))
    val scored = d.join(ptab, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"),
        round(sum(col("c") * -log(col("__p"))) / sum(col("c")),
          roundTo).as("nll"))
    Layout.pin(scored, dAll, c2)
  }

  /** Interpolated Kneser–Ney bigram scoring (public: Kneser & Ney
    * 1995; the interpolated form of Chen & Goodman 1999 with one
    * fixed discount D):
    *
    *   P(w2|w1) = max(c(w1w2) − D, 0)/c(w1·)
    *            + D·N1+(w1·)/c(w1·) · Pcont(w2)
    *   Pcont(w2) = (N1+(·w2) + k) / (T + k·V)
    *
    * where c(w1·) is w1's bigram-history mass, N1+(w1·)/N1+(·w2) the
    * distinct-continuation counts, T the number of distinct bigram
    * TYPES and V the vocabulary. The continuation distribution is the
    * model's signature move: a word's probability after an unseen
    * history tracks HOW MANY contexts it follows, not how often it
    * occurs — "francisco" is frequent but nearly always follows
    * "san", so its continuation mass is tiny. The add-k floor on
    * Pcont keeps store-miss words finite (an unseen w2 scores
    * k/(T+kV); an unseen HISTORY falls back to Pcont alone — the
    * standard backoff-to-continuation rule), so the same arithmetic
    * serves self-scoring and incremental scoring.
    *
    * Scale shape identical to [[scoreBigram]]: one bigram explosion,
    * count tables derived from per-doc counts (c1 and N1+(w1·) fall
    * out of ONE aggregation over the type table), key-equality joins
    * plus one broadcast (T, V) scalar row. Output
    * (doc_id, n_bigrams, nll); sub-2-token docs emit nothing. */
  def scoreKnBigram(docs: DataFrame, text: Column, id: Column,
      discount: Double = 0.75, k: Double = 0.5,
      roundTo: Int = 6): DataFrame = {
    require(discount > 0 && discount < 1, "kneser-ney needs 0 < D < 1")
    require(k > 0, "continuation floor needs k > 0")
    // ONE corpus explosion + type-level p-table — see [[scoreTrigram]]
    val dAll = ngrams2(tokenized(docs, text, id))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("c"))
      .persist()
    val d = dAll.filter(col("w2").isNotNull)
    // the TYPE table feeds four derivations — persist like the doc table
    val c2 = d.groupBy("w1", "w2").agg(sum("c").as("c2")).persist()
    val c1 = c2.groupBy("w1")
      .agg(sum("c2").as("c1"), count(lit(1)).as("n1lead"))
    val n1c = c2.groupBy("w2").agg(count(lit(1)).as("n1cont"))
    val tv = c2.agg(count(lit(1)).as("t"))
      .crossJoin(dAll.agg(countDistinct("w1").as("v")))
    val ptab = c2.join(c1, Seq("w1"))
      .join(n1c, Seq("w2"))
      .crossJoin(broadcast(tv))
      .select(col("w1"), col("w2"), knP(discount, k).as("__p"))
    val scored = d.join(ptab, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"),
        round(sum(col("c") * -log(col("__p"))) / sum(col("c")),
          roundTo).as("nll"))
    Layout.pin(scored, dAll, c2)
  }

  /** The KN probability expression over joined count columns
    * (c2, c1, n1lead, n1cont, t, v) — null-tolerant so the
    * store-miss (left-join) path shares it: unseen bigram → pure
    * backoff term; unseen history → Pcont alone. */
  private def knP(discount: Double, k: Double): Column = {
    val pc = (coalesce(col("n1cont"), lit(0L)) + k) /
      (col("t") + lit(k) * col("v"))
    when(col("c1").isNotNull,
      greatest(coalesce(col("c2"), lit(0L)) - discount, lit(0.0)) / col("c1") +
        lit(discount) * col("n1lead") / col("c1") * pc)
      .otherwise(pc)
  }

  /** Persist Kneser–Ney bigram statistics — the same store discipline
    * as [[buildBigramStats]]: `path/pairs` = the bigram TYPE table
    * (w1, w2, c2) — every other statistic (history mass, distinct
    * continuations) derives from it at read time — and `path/meta` =
    * (t, v), written LAST as the commit marker. */
  def buildKnBigramStats(docs: DataFrame, text: Column, id: Column,
      path: String): Unit = {
    val spark = docs.sparkSession
    // ONE corpus explosion for the pair table + V — see
    // [[buildTrigramStats]]
    val gAll = ngrams2(tokenized(docs, text, id))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2")).persist()
    val v = try {
      gAll.filter(col("w2").isNotNull)
        .write.mode("overwrite").parquet(s"$path/pairs")
      gAll.agg(countDistinct("w1")).head().getLong(0)
    } finally gAll.unpersist()
    spark.read.parquet(s"$path/pairs")
      .agg(count(lit(1)).as("t")).select(col("t"), lit(v).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Score documents against STORED Kneser–Ney statistics
    * ([[buildKnBigramStats]]) — store misses degrade through the same
    * [[knP]] arithmetic (unseen bigram → backoff mass only; unseen
    * history → continuation distribution; unseen word → the add-k
    * floor k/(T+kV)). Stats fit on the scored corpus itself make this
    * identical to [[scoreKnBigram]] (spec-proven). */
  def scoreKnBigramAgainst(spark: org.apache.spark.sql.SparkSession,
      path: String, docs: DataFrame, text: Column, id: Column,
      discount: Double = 0.75, k: Double = 0.5,
      roundTo: Int = 6): DataFrame = {
    require(discount > 0 && discount < 1, "kneser-ney needs 0 < D < 1")
    require(k > 0, "continuation floor needs k > 0")
    val pairs = spark.read.parquet(s"$path/pairs")
    val c1 = pairs.groupBy("w1")
      .agg(sum("c2").as("c1"), count(lit(1)).as("n1lead"))
    val n1c = pairs.groupBy("w2").agg(count(lit(1)).as("n1cont"))
    val tv = spark.read.parquet(s"$path/meta")
    // an empty reference corpus has no continuation distribution to
    // back off to — Pcont's denominator T + kV would be 0 and every
    // score ±Inf; refuse loudly instead
    val mrow = tv.head()
    require(mrow.getLong(mrow.fieldIndex("v")) > 0,
      s"kn stats at $path were fit on an empty corpus (V = 0)")
    docBigramCounts(docs, text, id)
      .join(pairs, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .join(n1c, Seq("w2"), "left")
      .crossJoin(broadcast(tv))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"),
        round(sum(col("c") * -log(knP(discount, k))) / sum(col("c")),
          roundTo).as("nll"))
  }
}
