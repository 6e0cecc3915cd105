package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Model-based document scoring: a multinomial Naive-Bayes text
  * classifier — the closed-form cousin of the fastText linear filter
  * every published curation pipeline runs (CCNet's wiki-vs-crawl
  * quality model, the LLaMA "references Wikipedia" filter). Training
  * is counting, so the fitted model is EXACTLY reproducible in any
  * engine (no SGD order-dependence), and scoring is one token join +
  * one aggregate — the same 100 TB shape as the perplexity scorers in
  * [[LangModel]].
  *
  * Model algebra (binary, add-α smoothed): per token
  * `w(t) = ln((c₁+α)/(N₁+αV)) − ln((c₀+α)/(N₀+αV))`; a doc scores
  * `intercept + Σ_t count(t)·w(t)` with unseen tokens taking the
  * all-α `w_oov`, `intercept = ln(n₁docs) − ln(n₀docs)`, and
  * `P(y=1|doc) = σ(score)`. Tokenization matches the corpus-wide
  * convention ([[Dedup.tokens]]).
  *
  * Persisted layout mirrors [[LangModel.buildBigramStats]]:
  * `path/tokens` = (token, w), `path/meta` = the 1-row
  * (intercept, w_oov) — fit once on the labeled seed set, score every
  * crawl increment against it without touching the seed corpus. */
object Classify {

  /** Fit on labeled docs (`label` coerced to 0/1; null-text or
    * null-label rows are not evidence and are dropped). Returns
    * (tokenWeights: (token, w), meta: (intercept, w_oov)). */
  def fitNaiveBayes(docs: DataFrame, text: Column, label: Column,
      alpha: Double = 0.5): (DataFrame, DataFrame) = {
    val base = docs.filter(text.isNotNull && label.isNotNull)
      .select(label.cast(IntegerType).cast(DoubleType).as("y"),
        text.as("__text"))
    val toks = base.select(col("y"),
      explode(Dedup.tokens(col("__text"))).as("token"))
    // one hash agg keyed on token gives both class counts at once —
    // no per-class scans, no Expand
    val counts = toks.groupBy("token").agg(
      sum(col("y")).as("c1"), sum(lit(1.0) - col("y")).as("c0"))
    // class totals + vocabulary from the token table (tiny second agg
    // over |V| rows, not the corpus), doc priors from one corpus agg
    val totals = counts.agg(sum("c1").as("n1"), sum("c0").as("n0"),
      count(lit(1)).cast(DoubleType).as("v"))
    val priors = base.agg(sum(col("y")).as("d1"),
      sum(lit(1.0) - col("y")).as("d0"))
    val a = lit(alpha)
    val tokenW = counts.crossJoin(broadcast(totals))
      .select(col("token"),
        (log((col("c1") + a) / (col("n1") + a * col("v"))) -
         log((col("c0") + a) / (col("n0") + a * col("v")))).as("w"))
    val meta = totals.crossJoin(priors)
      .select((log(col("d1")) - log(col("d0"))).as("intercept"),
        (log(a / (col("n1") + a * col("v"))) -
         log(a / (col("n0") + a * col("v")))).as("w_oov"))
    (tokenW, meta)
  }

  /** Score docs against a fitted model: `(id, n_tokens, score, prob,
    * pred)` with `pred` = 1 iff score ≥ 0 (BIGINT 0/1 — flags never
    * leave as booleans). `roundTo` rounds the order-sensitive double
    * sums; pass a negative value to keep raw doubles. One shuffle on
    * (doc, token), one broadcast of the model if it's small — at
    * vocabulary sizes past broadcast range the join degrades to a
    * key-equality shuffle, never a scan of the seed corpus. */
  def scoreNaiveBayes(docs: DataFrame, text: Column, id: Column,
      tokenW: DataFrame, meta: DataFrame, roundTo: Int = 6): DataFrame = {
    val perTok = docs.filter(text.isNotNull)
      .select(id.as("doc_id"), explode(Dedup.tokens(text)).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).cast(DoubleType).as("n"))
    val r = (c: Column) => if (roundTo < 0) c else round(c, roundTo)
    perTok
      .join(tokenW, Seq("token"), "left")
      .crossJoin(broadcast(meta))
      .groupBy("doc_id")
      .agg(sum(col("n")).cast(LongType).as("n_tokens"),
        (first(col("intercept")) +
          sum(col("n") * coalesce(col("w"), col("w_oov")))).as("__s"))
      .select(col("doc_id"), col("n_tokens"),
        r(col("__s")).as("score"),
        r(lit(1.0) / (lit(1.0) + exp(-col("__s")))).as("prob"),
        (col("__s") >= 0).cast(LongType).as("pred"))
  }

  /** Multi-class fit: one weight per (token, class) over a DENSE
    * token × class grid — a token never seen in some class carries
    * that class's all-α floor weight explicitly, so scoring is ONE
    * complete join with no per-class null handling. Returns
    * (tokenW: (token, cls, w), meta: (cls, prior, w_oov)); class
    * grids stay |V|·|C| rows — classes are few by construction
    * (languages, domains, quality tiers). */
  def fitNaiveBayesMulti(docs: DataFrame, text: Column, label: Column,
      alpha: Double = 0.5,
      tok: Column => Column = Dedup.tokens): (DataFrame, DataFrame) = {
    val base = docs.filter(text.isNotNull && label.isNotNull)
      .select(label.cast(StringType).as("cls"), text.as("__text"))
    val toks = base.select(col("cls"),
      explode(tok(col("__text"))).as("token"))
    val counts = toks.groupBy("cls", "token").agg(
      count(lit(1)).cast(DoubleType).as("ctc"))
    val clsTot = counts.groupBy("cls").agg(sum("ctc").as("nc"))
    val vocab = counts.select("token").distinct()
    val v = vocab.agg(count(lit(1)).cast(DoubleType).as("v"))
    val a = lit(alpha)
    val nDocs = base.agg(count(lit(1)).cast(DoubleType).as("nd"))
    val meta = base.groupBy("cls").agg(count(lit(1)).cast(DoubleType).as("dc"))
      .crossJoin(broadcast(nDocs))
      .join(clsTot, Seq("cls"))
      .crossJoin(broadcast(v))
      .select(col("cls"), log(col("dc") / col("nd")).as("prior"),
        log(a / (col("nc") + a * col("v"))).as("w_oov"))
    val dense = vocab.crossJoin(clsTot.select("cls"))
      .join(counts, Seq("cls", "token"), "left")
      .join(clsTot, Seq("cls")).crossJoin(broadcast(v))
      .select(col("token"), col("cls"),
        log((coalesce(col("ctc"), lit(0.0)) + a) /
          (col("nc") + a * col("v"))).as("w"))
    (dense, meta)
  }

  /** Multi-class scoring: `(id, pred, score)` — the argmax class and
    * its rounded log-posterior, tie broken by class name so the
    * prediction is engine-deterministic. One (doc, token) shuffle,
    * one model join fanning each doc token to |C| rows, one
    * per-(doc, class) aggregate, one per-doc top-1 window. Unseen
    * tokens take each class's floor via the meta join.
    * `broadcastModel` hints the dense token×class grid broadcast-
    * side: right whenever the vocabulary is BOUNDED by construction
    * (char-n-gram langid features — alphabet^n — stay broadcastable
    * at any corpus scale; word vocabularies grow with the corpus, so
    * the default leaves the planner free to shuffle). */
  def scoreNaiveBayesMulti(docs: DataFrame, text: Column, id: Column,
      tokenW: DataFrame, meta: DataFrame, roundTo: Int = 6,
      tok: Column => Column = Dedup.tokens,
      broadcastModel: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perTok = docs.filter(text.isNotNull)
      .select(id.as("doc_id"), explode(tok(text)).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).cast(DoubleType).as("n"))
    val scored = perTok
      .crossJoin(broadcast(meta.select("cls", "w_oov")))
      .join(if (broadcastModel) broadcast(tokenW) else tokenW,
        Seq("cls", "token"), "left")
      .groupBy("doc_id", "cls")
      .agg(sum(col("n") * coalesce(col("w"), col("w_oov"))).as("__s"))
      .join(broadcast(meta.select("cls", "prior")), Seq("cls"))
      .withColumn("__s", col("__s") + col("prior"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("__s").desc, col("cls"))
    scored.withColumn("__rk", row_number().over(w)).filter(col("__rk") === 1)
      .select(col("doc_id"), col("cls").as("pred"),
        round(col("__s"), roundTo).as("score"))
  }

  /** Character n-gram features for language identification — the
    * classic langid representation (Cavnar & Trenkle's n-gram
    * profiles; fastText's langid models use the same idea): all
    * overlapping `n`-grams of the lowercased, trimmed text. Char
    * grams beat word tokens for langid because they capture
    * orthography (suffixes, digraphs, diacritic patterns) rather
    * than vocabulary, and the feature space stays small and dense.
    * Normalization is Spark's own lower(trim(...)) so the semantics
    * restate verbatim in a SQL oracle; the gramming itself is one
    * codegen'd kernel call (the higher-order transform/substr chain
    * evaluates interpreted — measured 2x slower on the langid
    * funnel), pinned against the retained Column formulation
    * ([[charGramsCols]]) in ClassifySpec. Texts shorter than `n`
    * yield no features, never a malformed gram. */
  def charGrams(text: Column, n: Int): Column =
    graft.functions.GraftFunctions.charGrams(lower(trim(text)), n)

  /** Column reference formulation of [[charGrams]] — pure built-in
    * expressions (sequence/transform/substr), retained as the spec
    * pin the fused kernel is checked against. */
  private[graft] def charGramsCols(text: Column, n: Int): Column = {
    val t = lower(trim(text))
    when(length(t) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(t) - (n - 1)),
        i => t.substr(i, lit(n))))
  }

  /** Binary-classification quality of scored output against the true
    * label: one row — confusion counts plus accuracy / precision /
    * recall / F1 (0.0 where undefined, rounded to 6 dp). */
  def evalBinary(scored: DataFrame, label: Column,
      pred: Column = col("pred")): DataFrame = {
    val y = label.cast(IntegerType).cast(LongType)
    val p = pred.cast(LongType)
    // coalesce: an EMPTY scored set must report zeros, not a null row
    val agg = scored.agg(
      coalesce(sum(when(y === 1 && p === 1, 1L).otherwise(0L)), lit(0L)).as("tp"),
      coalesce(sum(when(y === 0 && p === 1, 1L).otherwise(0L)), lit(0L)).as("fp"),
      coalesce(sum(when(y === 1 && p === 0, 1L).otherwise(0L)), lit(0L)).as("fn"),
      coalesce(sum(when(y === 0 && p === 0, 1L).otherwise(0L)), lit(0L)).as("tn"))
    val tp = col("tp").cast(DoubleType)
    val safe = (num: Column, den: Column) =>
      round(when(den === 0.0, 0.0).otherwise(num / den), 6)
    agg.select(col("tp"), col("fp"), col("fn"), col("tn"),
      safe(tp + col("tn"), tp + col("fp") + col("fn") + col("tn"))
        .as("accuracy"),
      safe(tp, tp + col("fp")).as("precision"),
      safe(tp, tp + col("fn")).as("recall"),
      safe(tp * 2, tp * 2 + col("fp") + col("fn")).as("f1"))
  }

  /** Persist a fitted model (overwrite-safe; meta is one row). */
  def saveModel(tokenW: DataFrame, meta: DataFrame, path: String): Unit = {
    tokenW.write.mode("overwrite").parquet(s"$path/tokens")
    meta.coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Score against a stored model — no seed-corpus access. */
  def scoreIndexed(spark: SparkSession, path: String, docs: DataFrame,
      text: Column, id: Column, roundTo: Int = 6): DataFrame =
    scoreNaiveBayes(docs, text, id,
      spark.read.parquet(s"$path/tokens"),
      spark.read.parquet(s"$path/meta"), roundTo)

  /** Append newly scored docs to `outPath`, replay-idempotent via the
    * doc_id anti-join — the foreachBatch body for streaming scoring
    * (same contract as [[LangModel.appendScoredAgainst]]). */
  def appendScoredAgainst(spark: SparkSession, modelPath: String,
      outPath: String, docs: DataFrame, text: Column, id: Column,
      roundTo: Int = 6): Unit = {
    val scored = scoreIndexed(spark, modelPath, docs, text, id, roundTo)
    Layout.appendAbsent(scored, Layout.readIfExists(spark, outPath)(scored),
      outPath, "doc_id")
  }
}
