package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Collocation / co-occurrence statistics — the distributional layer
  * of corpus analysis (PMI-ranked collocations drive tokenizer merge
  * audits, stop-phrase discovery, and topic drift checks). The
  * reference has no text surface at all; this extends the
  * beyond-parity pipeline layer ([[TextOps]], [[Search]]).
  *
  * Distributed shape: windowed token pairs are generated INSIDE the
  * token array of each document (nested `transform` + one `explode`)
  * — no positions table, no self-join; the only shuffles are the two
  * count aggregations (pair key, unigram key). The totals are one-row
  * aggregates cross-joined back (broadcast). Association is scored by
  * LIFT — P(a,b) / (P(a)·P(b)), the exponential of PMI — because lift
  * is a pure ratio of integer counts: evaluated with an identical
  * operation tree in any engine it is BIT-exact (PMI's log would pull
  * in each platform's libm). At 100 TB the pair space is bounded by
  * corpus vocabulary², but the HEAVY keys are stopword pairs — the
  * `minCount` floor is applied after partial aggregation (map-side
  * combine absorbs the skew), and hot-pair salting is unnecessary
  * because counts are commutative monoids, unlike the join funnels.
  */
object Colloc {

  /** Windowed co-occurrence pair counts: unordered (least, greatest)
    * token pairs within `window` positions in the same document,
    * tokens lowercased whitespace-split, empty tokens dropped.
    * Output: (tok_a, tok_b, pair_n). */
  def pairCounts(docs: DataFrame, text: Column, window: Int): DataFrame = {
    val toks = filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)
    // i runs to size-1 and j from i+1: both sequences stay ascending
    // (Spark's sequence(a, b) with a > b REVERSES rather than
    // emptying — the <2-token guard keeps that footgun out)
    val pairs = when(size(col("__t")) >= 2,
      flatten(transform(sequence(lit(1), size(col("__t")) - 1), i =>
        transform(
          sequence(i + 1, least(i + lit(window), size(col("__t")))),
          j => struct(
            least(element_at(col("__t"), i), element_at(col("__t"), j))
              .as("tok_a"),
            greatest(element_at(col("__t"), i), element_at(col("__t"), j))
              .as("tok_b"))))))
      .otherwise(array().cast("array<struct<tok_a:string,tok_b:string>>"))
    docs.select(toks.as("__t"))
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(explode(pairs).as("__p"))
      .select(col("__p.tok_a"), col("__p.tok_b"))
      .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("pair_n"))
  }

  /** Unigram counts over the same tokenization: (tok, tok_n). */
  def unigramCounts(docs: DataFrame, text: Column): DataFrame = {
    val toks = filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)
    docs.select(toks.as("__t"))
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(explode(col("__t")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("tok_n"))
  }

  /** Persisted ADDITIVE pair-count store: counts are commutative
    * monoids, so incremental maintenance needs no index structure at
    * all — each crawl increment writes its own counts into a
    * `batch=<id>` partition (overwrite semantics make replays
    * exactly-once, the count-min store's contract applied to EXACT
    * counts), and reads sum across batches. The crawl-increment
    * shape for distributional stats: yesterday's corpus is never
    * re-tokenized. */
  def buildCountsStore(docs: DataFrame, text: Column, window: Int,
      path: String): Unit =
    pairCounts(docs, text, window)
      .write.mode("overwrite").parquet(s"$path/batch=0")

  /** Write one increment's counts as `batch=<id>` — replaying the
    * same batch id overwrites, never double-adds. */
  def appendCountsBatch(docs: DataFrame, text: Column, window: Int,
      path: String, batchId: Long): Unit = {
    require(batchId > 0, "batch 0 is the base build")
    pairCounts(docs, text, window)
      .write.mode("overwrite").parquet(s"$path/batch=$batchId")
  }

  /** Total pair counts across all batches. */
  def readCounts(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(path)
      .groupBy("tok_a", "tok_b").agg(sum(col("pair_n")).as("pair_n"))

  /** Top collocations by lift: (tok_a, tok_b, pair_n, lift) for pairs
    * with `pair_n ≥ minCount`, lift = (c_ab/c_a)·(N_tok/c_b)·
    * (N_tok/N_pairs) — EXACTLY this association order, which is the
    * cross-engine bit-exactness contract (each step is one IEEE
    * double op on exact integers). Ties in lift break by (tok_a,
    * tok_b), so the top-k cut is deterministic. */
  def topCollocations(docs: DataFrame, text: Column, window: Int,
      minCount: Long, k: Int): DataFrame = {
    // the count tables feed BOTH the lift join and their own totals:
    // unpinned, Catalyst rebuilds each branch from the raw corpus and
    // the heavy pair/unigram explodes run twice (plan-audited). The
    // aggregates are vocabulary-bounded — pin them once
    val pc = pairCounts(docs, text, window).transform(Layout.pin(_))
    val uc = unigramCounts(docs, text).transform(Layout.pin(_))
    val totTok = uc.agg(sum(col("tok_n")).cast("double").as("__ntok"))
    val totPair = pc.agg(sum(col("pair_n")).cast("double").as("__npair"))
    val d = (c: Column) => c.cast("double")
    pc.filter(col("pair_n") >= minCount)
      .join(uc.select(col("tok").as("tok_a"), col("tok_n").as("__ca")),
        Seq("tok_a"))
      .join(uc.select(col("tok").as("tok_b"), col("tok_n").as("__cb")),
        Seq("tok_b"))
      .crossJoin(totTok).crossJoin(totPair)
      .select(col("tok_a"), col("tok_b"), col("pair_n"),
        (d(col("pair_n")) / d(col("__ca")) * (col("__ntok") / d(col("__cb")))
          * (col("__ntok") / col("__npair"))).as("lift"))
      .orderBy(col("lift").desc, col("tok_a"), col("tok_b"))
      .limit(k)
  }
}
