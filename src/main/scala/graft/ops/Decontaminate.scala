package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Train/test decontamination: flag evaluation documents whose word
  * n-grams leak from the training corpus — the published LLM-eval
  * hygiene check (GPT-3 appendix C's 13-gram overlap, since standard
  * in every training-data pipeline).
  *
  * Shape at 100 TB: the expensive object is the distinct-n-gram set of
  * the TRAIN corpus (one pass + one distinct shuffle over the full
  * corpus). It is computed once ([[buildTrainIndex]]) and persisted;
  * per-eval-set queries ([[contaminationIndexed]]) are then a
  * key-equality hash join of the (small) test gram table against the
  * stored gram hashes plus one aggregate — no train-corpus scan. The
  * inline [[contamination]] fuses build+query for one-shot use.
  *
  * Grams are joined on their xxhash64 (8-byte shuffle keys instead of
  * ~n-word strings); a false match needs a 64-bit collision between a
  * test gram and some train gram — for corpora up to ~10^9 distinct
  * grams the per-document error probability is < 10^-9, and the check
  * is a threshold on a fraction, not an exact-match contract.
  */
object Decontaminate {

  /** One row per distinct word n-gram hash (`gh`) in the corpus.
    * Tokenization matches [[Dedup.shingles]] (lowercased whitespace
    * tokens; texts shorter than n yield one whole-text gram); hashing
    * is the fused one-pass kernel [[graft.functions.GraftFunctions.wordGramHashes]]
    * — no gram-string arrays materialize. */
  def trainGrams(train: DataFrame, text: Column, n: Int): DataFrame =
    gramStream(train, text, n).distinct()

  /** The raw (pre-distinct) gram-hash stream. The exchange sits BELOW
    * the gram projection: a coarse parquet scan would otherwise
    * serialize the projection on a few tasks. Round-robin, NOT keyed
    * on the text payload: crawl corpora are duplicate-heavy (that's
    * why dedup exists), and hashing duplicated texts would
    * re-concentrate them on one task — downstream consumers reshuffle
    * by gram hash regardless. */
  private def gramStream(train: DataFrame, text: Column, n: Int): DataFrame =
    train.select(text.as("__text"))
      .repartition(train.sparkSession.sessionState.conf.numShufflePartitions)
      .select(explode(
        graft.functions.GraftFunctions.wordGramHashes(col("__text"), n))
        .as("gh"))

  /** Persist the train corpus' distinct gram hashes — the write-once
    * half of the check. Overwrite-safe; layout is a plain parquet of
    * `gh: BIGINT` (the join re-shuffles both sides on gh, so no
    * partitioning scheme helps a full-set membership join). */
  def buildTrainIndex(train: DataFrame, text: Column, n: Int,
      path: String): Unit =
    trainGrams(train, text, n).write.mode("overwrite").parquet(path)

  /** Append new train documents to a stored gram index. The scoring
    * join assumes the gram table is DISTINCT — a naive file append
    * that re-introduced an existing hash would double-count every
    * match of that gram (contamination > 1.0) — so new grams are
    * anti-joined against the store and only the genuinely new ones
    * land as a new file — which also makes a replayed stream batch
    * append nothing. */
  def appendToTrainIndex(spark: SparkSession, indexPath: String,
      docs: DataFrame, text: Column, n: Int): Unit =
    Layout.appendAbsent(trainGrams(docs, text, n),
      spark.read.parquet(indexPath), indexPath, "gh")

  /** Per-test-document contamination against a stored gram index:
    * `test_id, n_grams, n_matched, contamination` where
    * `contamination` = fraction of the doc's distinct n-grams present
    * in the train corpus. Every test doc WITH TEXT appears (zero
    * matches → 0.0); null-text docs have no grams to check and are
    * absent — screen them upstream (Curate's "invalid" stage) rather
    * than reading absence as "clean".
    *
    * One key-equality shuffle join on the gram hash + one aggregate on
    * test_id; the left join keeps unmatched grams so the single
    * aggregate yields both the total and the matched count. */
  def contaminationIndexed(spark: SparkSession, indexPath: String,
      test: DataFrame, text: Column, id: Column, n: Int): DataFrame =
    contaminationAgainst(spark.read.parquet(indexPath), test, text, id, n)

  /** Inline variant: derive the train gram set and score in one job.
    * For repeated eval sets over the same train corpus, prefer
    * [[buildTrainIndex]] + [[contaminationIndexed]]. */
  def contamination(train: DataFrame, test: DataFrame, text: Column,
      id: Column, n: Int): DataFrame =
    contaminationAgainst(trainGrams(train, text, n), test, text, id, n)

  /** Test docs at/above `threshold` — the drop list. */
  def contaminated(train: DataFrame, test: DataFrame, text: Column,
      id: Column, n: Int, threshold: Double): DataFrame =
    contamination(train, test, text, id, n)
      .filter(col("contamination") >= threshold)

  /** Bloom-gated inline contamination — output IDENTICAL to
    * [[contamination]]: a Bloom filter admits every true member (no
    * false negatives), so gating the train gram stream loses no
    * matches, and its false positives are non-matching grams the
    * exact left join scores as misses anyway.
    *
    * The difference is the plan: the test set's grams are folded into
    * a [[Bloom]] bitmap (sized `mBits`, `k` probes — a few MB for any
    * real eval suite), and the TRAIN corpus' raw gram stream passes a
    * zero-shuffle broadcast bit-test gate BEFORE the distinct
    * shuffle. At 100 TB that's the difference between shuffling
    * ~10^12 train grams and shuffling only (true overlap +
    * [[Bloom.fpRate]]·10^12 false positives): the scan still reads
    * everything, the network carries almost nothing. */
  def contaminationBloomGated(train: DataFrame, test: DataFrame,
      text: Column, id: Column, n: Int, mBits: Long, k: Int,
      seed: Long = 0L): DataFrame = {
    // the test set is the SMALL side by contract (an eval suite, not
    // a corpus) — materialize its gram set once instead of re-scanning
    // the test docs for the bloom fit AND the scoring join
    val testGrams = test.select(text.as("__text"))
      .select(explode(
        graft.functions.GraftFunctions.wordGramHashes(col("__text"), n))
        .as("gh"))
      .transform(Layout.pin(_))
    val bloom = Bloom.fit(testGrams, col("gh"), mBits, k, seed)
    val gated = Bloom.mightContain(gramStream(train, text, n), col("gh"),
      bloom, mBits, k, seed).distinct()
    contaminationAgainst(gated, test, text, id, n)
  }

  private def contaminationAgainst(grams: DataFrame, test: DataFrame,
      text: Column, id: Column, n: Int): DataFrame = {
    val testGrams = test
      .select(id.as("test_id"), text.as("__text"))
      .repartition(col("test_id")) // spread the gram projection
      .select(col("test_id"), explode(
        graft.functions.GraftFunctions.wordGramHashes(col("__text"), n))
        .as("gh"))
    testGrams
      .join(grams.withColumn("__hit", lit(1)), Seq("gh"), "left")
      .groupBy("test_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0))).as("n_matched"))
      .withColumn("contamination",
        round(col("n_matched").cast(DoubleType) / col("n_grams"), 6))
  }

  /** Whole-benchmark-SUITE contamination in ONE pass: multiple eval
    * sets (a label column on the eval frame) score against the same
    * train gram table through a single gram join + aggregate. At
    * 100 TB the train gram set is the expensive side — the suite
    * variant scans and joins it ONCE for every benchmark at once,
    * where per-benchmark [[contamination]] calls would pay that cost
    * per eval set. A doc appearing in two sets scores independently
    * per set (the set label is a group key). Output: (eval_set,
    * test_id, n_grams, n_matched, contamination), one row per (set,
    * doc with text). */
  def contaminationSuite(train: DataFrame, evals: DataFrame,
      text: Column, id: Column, evalSet: Column, n: Int): DataFrame =
    contaminationSuiteAgainst(trainGrams(train, text, n), evals, text,
      id, evalSet, n)

  /** [[contaminationSuite]] against a persisted gram index
    * ([[buildTrainIndex]]) — the steady-state shape: the train corpus
    * is never rescanned as benchmark suites evolve. */
  def contaminationSuiteIndexed(spark: SparkSession, indexPath: String,
      evals: DataFrame, text: Column, id: Column, evalSet: Column,
      n: Int): DataFrame =
    contaminationSuiteAgainst(spark.read.parquet(indexPath), evals,
      text, id, evalSet, n)

  /** [[contaminationSuite]] with the [[contaminationBloomGated]] plan
    * — the combined 100 TB shape: ONE Bloom bitmap folded over the
    * whole suite's grams gates the train gram stream map-side before
    * its distinct shuffle, and one exact join then scores every
    * benchmark. Output identical to [[contaminationSuite]] (no false
    * negatives; false positives are non-matching grams the exact join
    * scores as misses). */
  def contaminationSuiteBloomGated(train: DataFrame, evals: DataFrame,
      text: Column, id: Column, evalSet: Column, n: Int, mBits: Long,
      k: Int, seed: Long = 0L): DataFrame = {
    val suiteGrams = evals.select(text.as("__text"))
      .select(explode(
        graft.functions.GraftFunctions.wordGramHashes(col("__text"), n))
        .as("gh"))
      .transform(Layout.pin(_))
    val bloom = Bloom.fit(suiteGrams, col("gh"), mBits, k, seed)
    val gated = Bloom.mightContain(gramStream(train, text, n), col("gh"),
      bloom, mBits, k, seed).distinct()
    contaminationSuiteAgainst(gated, evals, text, id, evalSet, n)
  }

  private def contaminationSuiteAgainst(grams: DataFrame,
      evals: DataFrame, text: Column, id: Column, evalSet: Column,
      n: Int): DataFrame = {
    val testGrams = evals
      .select(evalSet.cast(org.apache.spark.sql.types.StringType)
        .as("eval_set"), id.as("test_id"), text.as("__text"))
      .repartition(col("eval_set"), col("test_id")) // spread the gram projection
      .select(col("eval_set"), col("test_id"), explode(
        graft.functions.GraftFunctions.wordGramHashes(col("__text"), n))
        .as("gh"))
    testGrams
      .join(grams.withColumn("__hit", lit(1)), Seq("gh"), "left")
      .groupBy("eval_set", "test_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0))).as("n_matched"))
      .withColumn("contamination",
        round(col("n_matched").cast(DoubleType) / col("n_grams"), 6))
  }
}
