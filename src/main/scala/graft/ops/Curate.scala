package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The corpus-curation capstone: the standard LLM training-data
  * funnel (quality floor → repetition ceiling → language allowlist →
  * exact-dedup keep-first → optional near-dup cluster keep-first)
  * composed from the engine's own stages, emitting an auditable
  * per-document ledger instead of silently shrinking the corpus —
  * at 100 TB "why did my document disappear" is an operational
  * question, so drops carry their stage.
  *
  * Stage attribution is first-drop-wins in the order above (the
  * conventional cheap-to-expensive ordering: map-only filters first,
  * the dedup shuffle only over their survivors). All thresholds
  * compare ROUNDED (6 dp) scores, so ledger decisions are exactly
  * reproducible across engines — the same contract the individual
  * score queries are hash-verified under.
  */
object Curate {

  case class Config(
      minQuality: Double = 0.62,
      maxTop2CharFrac: Double = 0.14,
      langs: Seq[String] = Seq("en"),
      nearDupThreshold: Option[Double] = None,
      minhashHashes: Int = 128,
      minhashBands: Int = 32,
      ccMaxIter: Int = 30,
      // perplexity ceiling (LangModel bigram NLL, rounded 6): the
      // CCNet-style LM filter, run LAST over the dedup survivors —
      // the most expensive stage sees the fewest rows. None = off.
      maxNll: Option[Double] = None,
      // fit source for the NLL: a buildBigramStats store (trusted
      // reference corpus), or None = self-fit on the surviving pool
      lmStatsPath: Option[String] = None)

  /** Per-document verdict: every input row, plus `stage` ("kept" or
    * the first stage that dropped it) and `keep`. Map-only up to the
    * dedup stages; exact dedup is one window shuffle over the filter
    * survivors; near-dup (when enabled) runs the minhash funnel +
    * connected components over the exact-dedup survivors and keeps
    * each cluster's minimum id. */
  /** The map-only scalar stages shared by batch [[ledger]] and
    * streaming [[appendCuratedAgainst]]: kernel scores, first-drop
    * attribution of the scalar filters (`__pre`), and the content
    * fingerprint (`__fp`). One projection over one scan. */
  private def scalarBase(docs: DataFrame, text: Column, id: Column,
      cfg: Config): DataFrame =
    docs.select(id.as("doc_id"), text.as("__text"))
      .withColumn("quality", TextOps.qualityScoreFused(col("__text")))
      .withColumn("pred_lang", TextOps.langIdFused(col("__text")))
      .withColumn("top2",
        round(graft.functions.GraftFunctions
          .repetitionStats(col("__text")).getField("top2_char_frac"), 6))
      .withColumn("__pre",
        when(col("__text").isNull, "invalid") // null text scores null in
          // every kernel, which would otherwise slide through the
          // null-propagating threshold comparisons as "kept"
          .when(col("quality") < cfg.minQuality, "quality")
          .when(col("top2") > cfg.maxTop2CharFrac, "repetition")
          .when(!col("pred_lang").isin(cfg.langs: _*), "lang"))
      .withColumn("__fp", md5(col("__text").cast("binary")))

  /** "rank among SURVIVORS of my fingerprint partition" — a
    * conditional running sum, one window shuffle. */
  private def survRank: Column = {
    val w = Window.partitionBy(col("__fp")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sum(when(col("__pre").isNull, 1L).otherwise(0L)).over(w)
  }

  def ledger(docs: DataFrame, text: Column, id: Column,
      cfg: Config = Config()): DataFrame = {
    // single pass: the three filter scores are kernel projections over
    // one scan; exact dedup rides the one window shuffle, so no
    // dropped/survivors branch-and-union (which would evaluate the
    // kernel projection twice)
    val base0 = scalarBase(docs, text, id, cfg)
      .withColumn("stage",
        coalesce(col("__pre"), when(survRank > 1, "exact_dup")))
      .drop("__fp")
    // with near-dup and/or LM stages on, `base` feeds each stage's
    // pool AND each stage's verdict join AND the final projection —
    // persist it for the funnel's duration (kernel projections are
    // the scan-dominating cost; without this they re-run per
    // consumer), released by the pin below
    val multiConsumer = cfg.nearDupThreshold.isDefined || cfg.maxNll.isDefined
    val base = if (multiConsumer) base0.persist() else base0

    val afterExact = cfg.nearDupThreshold match {
      case None => base
      case Some(t) =>
        val pool = base.filter(col("stage").isNull)
        val pairs = Dedup.minhashLSH(pool, col("__text"), col("doc_id"),
          shingleK = 3, numHashes = cfg.minhashHashes,
          bands = cfg.minhashBands, jaccardThreshold = t)
        // star contraction (O(log n) rounds on any component shape —
        // near-dup chains are exactly the long-diameter case that
        // starves label propagation), and FAIL LOUDLY if unconverged:
        // an unconverged labeling silently keeps extra cluster members
        val cc = Dedup.connectedComponentsStar(pairs, cfg.ccMaxIter)
        require(cc.converged,
          s"near-dup clustering did not converge in ${cfg.ccMaxIter} rounds; " +
            "raise Config.ccMaxIter")
        // cluster members above the minimum id drop; roots stay
        val drops = cc.labels.filter(col("id") =!= col("cluster"))
          .select(col("id").as("doc_id"), lit("near_dup").as("__nd"))
        base.join(drops, Seq("doc_id"), "left")
          .withColumn("stage", coalesce(col("stage"), col("__nd")))
          .drop("__nd")
    }

    val afterLm = cfg.maxNll match {
      case None => afterExact
      case Some(maxNll) =>
        // survivors only: perplexity is the costliest stage (two
        // n-gram explosions + joins), so it runs over the funnel's
        // smallest set. Docs under two tokens have no bigrams and no
        // NLL — they pass this stage (their fate was decided by the
        // scalar filters above).
        val pool = afterExact.filter(col("stage").isNull)
        val scored = cfg.lmStatsPath match {
          case Some(p) => LangModel.scoreBigramAgainst(
            pool.sparkSession, p, pool, col("__text"), col("doc_id"))
          case None => LangModel.scoreBigram(pool, col("__text"), col("doc_id"))
        }
        val drops = scored.filter(col("nll") > maxNll)
          .select(col("doc_id"), lit("perplexity").as("__lm"))
        afterExact.join(drops, Seq("doc_id"), "left")
          .withColumn("stage", coalesce(col("stage"), col("__lm")))
          .drop("__lm")
    }

    val out = afterLm
      .withColumn("stage", coalesce(col("stage"), lit("kept")))
      .withColumn("keep", col("stage") === "kept")
      .drop("__pre", "__text")
    // the ledger (text dropped) is compact; pin it so the cached base
    // can release NOW instead of leaking past return
    if (!multiConsumer) out else Layout.pin(out, base)
  }

  /** The curation funnel as a stream, one micro-batch at a time (the
    * body of a [[graft.streaming.StreamingIngest.foreachBatch]]): run
    * the funnel over one micro-batch with cross-batch exact-dedup
    * state in a fingerprint store.
    *
    * Stages per batch: the scalar filters are stateless kernel
    * projections; exact dedup combines the batch-internal survivor
    * rank (same window as [[ledger]]) with a fingerprint-store lookup
    * (a doc whose fp matches any EARLIER batch's fingerprint winner is
    * `exact_dup` — first-arrival keeps, the streaming analogue of
    * batch's min-id-keeps, identical when ids arrive in id order);
    * the optional perplexity ceiling scores against STORED bigram
    * stats (`cfg.lmStatsPath` — self-fit has no streaming meaning and
    * is rejected, as is the near-dup stage, whose streaming shape is
    * the minhash index stream). Both appends are driven by ONE
    * materialized set of genuinely-new ledger rows (doc_id anti-join
    * against the sink), so the fp store only ever claims fingerprints
    * whose verdicts the ledger actually recorded: a replayed
    * micro-batch appends nothing anywhere (its would-be self-collision
    * verdicts are discarded with it), and a re-delivered doc_id with
    * CHANGED text claims nothing either — first delivery wins for both
    * the verdict and the fingerprint. */
  def appendCuratedAgainst(spark: org.apache.spark.sql.SparkSession,
      storePath: String, outPath: String, batch: DataFrame, text: Column,
      id: Column, cfg: Config = Config()): Unit = {
    require(cfg.nearDupThreshold.isEmpty,
      "near-dup stage is batch-only; stream near-dups via the minhash index")
    require(cfg.maxNll.isEmpty || cfg.lmStatsPath.isDefined,
      "the streaming perplexity stage needs stored stats (lmStatsPath)")
    val b = scalarBase(batch, text, id, cfg).withColumn("__rk", survRank)
    val storedFp = Layout.readIfExists(spark, storePath)(b.select("__fp"))
    // persisted: withDup feeds the ledger append, the optional LM pool,
    // and the fingerprint-winner append — unpersisted, every one of
    // those jobs would rescan and re-deduplicate the corpus-scale fp
    // store; try/finally so a failed batch (retried by the stream)
    // can't leak the cache
    val withDup = b
      .join(storedFp.withColumn("__seen", lit(1)).dropDuplicates("__fp"),
        Seq("__fp"), "left")
      .withColumn("stage", coalesce(col("__pre"),
        when(col("__rk") > 1 || col("__seen") === 1, "exact_dup")))
      .persist()
    try {
      val withLm = cfg.maxNll match {
        case None => withDup
        case Some(maxNll) =>
          val pool = withDup.filter(col("stage").isNull)
          val drops = LangModel.scoreBigramAgainst(spark, cfg.lmStatsPath.get,
              pool, col("__text"), col("doc_id"))
            .filter(col("nll") > maxNll)
            .select(col("doc_id"), lit("perplexity").as("__lm"))
          withDup.join(drops, Seq("doc_id"), "left")
            .withColumn("stage", coalesce(col("stage"), col("__lm")))
            .drop("__lm")
      }
      val ledgerRows = withLm
        .withColumn("stage", coalesce(col("stage"), lit("kept")))
        .withColumn("keep", col("stage") === "kept")
        .select("doc_id", "quality", "pred_lang", "top2", "stage", "keep")
      val sunk = Layout.readIfExists(spark, outPath)(ledgerRows)
      val fresh = ledgerRows
        .join(sunk.select("doc_id"), Seq("doc_id"), "left_anti")
        .persist()
      try {
        fresh.write.mode("append").parquet(outPath)
        // fingerprint winners (scalar-surviving, first of their fp, fp
        // not already stored) claim their fp for all later batches —
        // even if the LM stage dropped them, matching batch rank
        // semantics — but only when their ledger row actually landed
        withDup.filter(col("__pre").isNull && col("__rk") === 1 &&
            col("__seen").isNull)
          .join(fresh.select("doc_id"), Seq("doc_id"), "leftsemi")
          .select("__fp")
          .write.mode("append").parquet(storePath)
      } finally fresh.unpersist()
    } finally withDup.unpersist()
    ()
  }

  /** Leakage-safe train/eval split from a precomputed near-dup pair
    * set: documents are clustered (connected components over the
    * pairs), every document gets its cluster representative (its own
    * id when unpaired), and the split is decided by the PORTABLE
    * selection hash of the REPRESENTATIVE — so any two documents
    * linked by a pair land on the same side, by construction. Splitting
    * at document level instead would plant eval near-dups in train
    * (benchmark contamination, the thing decontamination chases after
    * the fact); splitting by cluster prevents it structurally.
    *
    * Output: every input id as (doc_id, cluster, split∈{eval,train}).
    * The eval fraction applies to CLUSTERS (uniform via [[Mix.ordHash]]
    * on the representative), so the realized document fraction drifts
    * with cluster mass — the price of zero leakage, measured in
    * CurateSpec. Engine-portable verbatim: cluster = recursive closure,
    * selection = md5 hex compare ([[Mix.hexThreshold]]). */
  def leakSafeSplitFromPairs(docs: DataFrame, id: Column, pairs: DataFrame,
      evalFrac: Double, seed: Long = 42L, ccMaxIter: Int = 30): DataFrame = {
    val cc = Dedup.connectedComponentsStar(pairs, ccMaxIter)
    require(cc.converged,
      s"near-dup clustering did not converge in $ccMaxIter rounds; raise ccMaxIter")
    leakSafeSplitFromLabels(docs, id, cc.labels, evalFrac, seed)
  }

  /** [[leakSafeSplitFromPairs]] over PRECOMPUTED cluster labels
    * (`(id, cluster)`, e.g. read back from [[buildClusterStore]]):
    * docs absent from the label table are singletons (cluster =
    * their own id). Identical output to the from-pairs shape when the
    * labels came from the same pair set — the split is a pure
    * function of the labels. */
  def leakSafeSplitFromLabels(docs: DataFrame, id: Column,
      labels: DataFrame, evalFrac: Double, seed: Long = 42L): DataFrame =
    docs.select(id.as("doc_id"))
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .withColumn("split",
        when(Mix.ordHash(col("cluster"), seed) <
          lit(Mix.hexThreshold(evalFrac)), "eval").otherwise("train"))

  /** [[leakSafeSplitFromPairs]] with the SAME leakage guarantee but a
    * cluster-MASS-aware eval target: instead of selecting each cluster
    * independently with probability evalFrac (realized document
    * fraction then drifts with cluster mass — heavy clusters landing
    * in eval overshoot, and at evalFrac·#clusters ≈ a handful the
    * variance is all there is), clusters are laid out in [[Mix.ordHash]]
    * order and greedily assigned to eval while the running DOCUMENT
    * mass before the cluster is under ⌊evalFrac · total⌋. Realized
    * eval fraction then overshoots the target by at most one cluster,
    * deterministically, instead of by binomial noise.
    *
    * Scale shape: the running mass is a distributed two-phase prefix
    * sum — per-cluster masses are grouped into 256 hash-prefix
    * buckets (first two hex chars of the order hash), the 256 bucket
    * totals prefix-sum through one 256-ROW window and broadcast-join
    * back (constant work at any corpus size, and no driver collect —
    * the whole split stays one lazy plan), and the within-bucket
    * remainder is a window partitioned BY bucket — never a global
    * single-partition window over the clusters, which at 10⁹ of them
    * would serialize the whole layout through one task.
    *
    * Engine-portable verbatim: the hash order, the ROWS BETWEEN
    * UNBOUNDED PRECEDING AND 1 PRECEDING running sum, and the
    * `prev < evalFrac · total` comparison reproduce exactly as one
    * global window in any SQL engine (bucket-prefix + within-bucket
    * window ≡ global window because bucket = hash prefix). */
  def leakSafeSplitBalancedFromPairs(docs: DataFrame, id: Column,
      pairs: DataFrame, evalFrac: Double, seed: Long = 42L,
      ccMaxIter: Int = 30): DataFrame = {
    val cc = Dedup.connectedComponentsStar(pairs, ccMaxIter)
    require(cc.converged,
      s"near-dup clustering did not converge in $ccMaxIter rounds; raise ccMaxIter")
    leakSafeSplitBalancedFromLabels(docs, id, cc.labels, evalFrac, seed)
  }

  /** [[leakSafeSplitBalancedFromPairs]] over PRECOMPUTED cluster
    * labels — see [[leakSafeSplitFromLabels]] for the label contract. */
  def leakSafeSplitBalancedFromLabels(docs: DataFrame, id: Column,
      labels: DataFrame, evalFrac: Double, seed: Long = 42L): DataFrame = {
    val labeled = docs.select(id.as("doc_id"))
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
    val mass = labeled.groupBy("cluster")
      .agg(count(lit(1)).cast("long").as("__mass"))
      .withColumn("__h", Mix.ordHash(col("cluster"), seed))
      .withColumn("__b", substring(col("__h"), 1, 2))
    mass.persist()
    try {
      // 256 rows at any scale: the bucket-level half of the prefix
      // sum — a single-partition window over the BUCKET TOTALS only,
      // broadcast back, so no driver collect breaks the lazy plan
      val wOff = Window.orderBy("__b")
      val offsets = mass.groupBy("__b").agg(sum("__mass").as("__bt"))
        .withColumn("__off",
          coalesce(sum("__bt").over(wOff.rowsBetween(
            Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("__total",
          sum("__bt").over(wOff.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col("__b"), col("__off"), col("__total"))
      val w = Window.partitionBy("__b").orderBy("__h")
        .rowsBetween(Window.unboundedPreceding, -1)
      val prev = col("__off") + coalesce(sum("__mass").over(w), lit(0L))
      // materialize the CLUSTER-level selection (one row per cluster,
      // not per document) before releasing `mass`; the per-doc join
      // below then consumes the checkpointed plan lazily
      val sel = mass.join(broadcast(offsets), Seq("__b"))
        .withColumn("split",
          when(prev.cast("double") <
            lit(evalFrac) * col("__total").cast("double"),
            "eval").otherwise("train"))
        .select(col("cluster"), col("split"))
        .transform(Layout.pin(_))
      labeled.join(sel, Seq("cluster"), "left")
        .select(col("doc_id"), col("cluster"), col("split"))
    } finally { mass.unpersist(); () }
  }

  /** [[leakSafeSplitFromPairs]] with the pair set produced by the
    * engine's own minhash funnel — the shape that runs at corpus
    * scale (banded LSH candidate generation, never all-pairs). The
    * funnel finds exact duplicates too (Jaccard 1), so both dup
    * families are split-safe. `bucketCap` is the funnel's standard
    * skew insurance, passed through to [[Dedup.minhashLSH]]: a
    * clone-flood cluster larger than the cap is dropped from candidate
    * generation (its members then split independently), which is the
    * documented trade for never materializing a quadratic bucket. */
  def leakSafeSplit(docs: DataFrame, text: Column, id: Column,
      evalFrac: Double, seed: Long = 42L, nearDupThreshold: Double = 0.5,
      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 32,
      ccMaxIter: Int = 30, bucketCap: Int = 100000): DataFrame = {
    val base = docs.select(id.as("doc_id"), text.as("__text"))
    val pairs = Dedup.minhashLSH(base, col("__text"), col("doc_id"),
      shingleK = shingleK, numHashes = numHashes, bands = bands,
      jaccardThreshold = nearDupThreshold, bucketCap = bucketCap)
    leakSafeSplitFromPairs(base, col("doc_id"), pairs, evalFrac, seed,
      ccMaxIter)
  }

  /** [[leakSafeSplitBalancedFromPairs]] over the engine's minhash
    * funnel — the corpus-scale shape of the mass-aware split.
    * `bucketCap` as in [[leakSafeSplit]]. */
  def leakSafeSplitBalanced(docs: DataFrame, text: Column, id: Column,
      evalFrac: Double, seed: Long = 42L, nearDupThreshold: Double = 0.5,
      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 32,
      ccMaxIter: Int = 30, bucketCap: Int = 100000): DataFrame = {
    val base = docs.select(id.as("doc_id"), text.as("__text"))
    val pairs = Dedup.minhashLSH(base, col("__text"), col("doc_id"),
      shingleK = shingleK, numHashes = numHashes, bands = bands,
      jaccardThreshold = nearDupThreshold, bucketCap = bucketCap)
    leakSafeSplitBalancedFromPairs(base, col("doc_id"), pairs, evalFrac,
      seed, ccMaxIter)
  }

  /** Persist the near-dup CLUSTER LABELS (`(id, cluster)`) that both
    * split shapes derive from — the expensive shared stage (minhash
    * funnel + connected components) written ONCE as a batch artifact,
    * so every split (plain, balanced, re-splits at new eval fractions
    * or seeds) is a cheap join against the store instead of a full
    * funnel re-run. At 100 TB this is the only sane shape: clustering
    * is a day-scale job over the corpus; split derivation must not
    * repeat it per variant. Deterministic funnel + deterministic CC ⇒
    * the stored labels reproduce the inline [[leakSafeSplit]] /
    * [[leakSafeSplitBalanced]] outputs exactly (CurateSpec). */
  def buildClusterStore(docs: DataFrame, text: Column, id: Column,
      path: String, nearDupThreshold: Double = 0.5, shingleK: Int = 3,
      numHashes: Int = 128, bands: Int = 32, ccMaxIter: Int = 30,
      bucketCap: Int = 100000): Unit = {
    val base = docs.select(id.as("doc_id"), text.as("__text"))
    val pairs = Dedup.minhashLSH(base, col("__text"), col("doc_id"),
      shingleK = shingleK, numHashes = numHashes, bands = bands,
      jaccardThreshold = nearDupThreshold, bucketCap = bucketCap)
    val cc = Dedup.connectedComponentsStar(pairs, ccMaxIter)
    require(cc.converged,
      s"near-dup clustering did not converge in $ccMaxIter rounds; raise ccMaxIter")
    cc.labels.write.mode("overwrite").parquet(path)
  }

  /** Per-source adaptive quality cutoffs: the `pct` quantile of
    * [[TextOps.qualityScore]] WITHIN each source, rounded 6 dp. A
    * fixed global threshold over-prunes sources whose score
    * distribution sits low (different registers, languages, media) and
    * under-prunes high-scoring ones; cutting each source at its own
    * percentile drops the same FRACTION everywhere — the standard
    * per-domain quality gate. One map-side-combined aggregate; output
    * is one row per source (tiny at any corpus size). Exact
    * `percentile` (p·(n−1) interpolation, = DuckDB quantile_cont);
    * swap for percentile_approx at trillions-of-docs scale if the
    * per-source sort memory ever matters. */
  def adaptiveQualityCutoffs(docs: DataFrame, text: Column, source: Column,
      pct: Double): DataFrame =
    docs.select(source.as("source"),
        TextOps.qualityScore(text).as("__q"))
      .groupBy("source")
      .agg(round(percentile(col("__q"), lit(pct)), 6).as("cutoff"))

  /** Documents at-or-above their source's adaptive cutoff, as
    * (doc_id, source, quality, cutoff). Two passes over the corpus —
    * one aggregate for the cutoffs, one map-side filter through a
    * BROADCAST join of the per-source cutoff table (a handful of
    * rows) — the canonical shape for a data-dependent threshold: no
    * shuffle of the corpus itself, ever. Both sides of the keep
    * comparison are rounded 6 dp, so the decision is engine-portable
    * verbatim. */
  def adaptiveQualityKept(docs: DataFrame, text: Column, id: Column,
      source: Column, pct: Double): DataFrame = {
    val cuts = broadcast(adaptiveQualityCutoffs(docs, text, source, pct))
    docs.select(id.as("doc_id"), source.as("source"),
        TextOps.qualityScore(text).as("quality"))
      .join(cuts, Seq("source"))
      .filter(col("quality") >= col("cutoff"))
      .select(col("doc_id"), col("source"), col("quality"), col("cutoff"))
  }

  /** The kept corpus — [[ledger]]'s survivors joined back to the full
    * input rows (semi join on id, so every original column survives). */
  def kept(docs: DataFrame, text: Column, id: Column,
      cfg: Config = Config()): DataFrame = {
    val keptIds = ledger(docs, text, id, cfg).filter(col("keep"))
      .select(col("doc_id").as("__keep_id"))
    docs.join(keptIds, id === col("__keep_id"), "leftsemi")
  }
}
