package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Count-min sketch: fixed-size frequency estimation over unbounded
  * key streams — the counting member of the engine's mergeable-sketch
  * family (HLL cardinality via `approx_count_distinct`, GK quantiles
  * via `approx_percentile`, membership via [[Bloom]]). The classic
  * use at 100 TB: per-token/per-URL/per-user frequencies where the
  * exact count table itself would be a shuffle too big to sit
  * anywhere, but a depth×width counter grid of a few MB answers
  * every point query with a one-sided error bound.
  *
  * Guarantees: estimates NEVER undercount; overcount is ≤ εN with
  * probability 1−δ for width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉ (N = total
  * stream weight). Counters are additive, so sketches of shards
  * union-merge by summing cells — the same property that lets [[fit]]
  * build the grid with ONE partial-combined aggregation and no
  * key-space shuffle.
  *
  * Probe positions reuse the repo's portable md5 primitive
  * ([[Bloom.position]]), so the counter grid is cell-for-cell
  * reproducible by the DuckDB oracle; swap for `xxhash64` where
  * cross-engine reproducibility doesn't matter. */
object Sketch {

  /** Build the sparse counter grid `(r, c, n)` over `keys`, each
    * occurrence adding `weight` (default 1) to one cell per row:
    * `c = md5-position(key, r) mod width`. Cells never touched are
    * absent (= 0). One explode + one hash aggregation; partial
    * aggregation collapses every map partition to ≤ depth·width rows
    * before the only shuffle. */
  def countMinFit(df: DataFrame, key: Column, depth: Int, width: Long,
      seed: Long = 0L, weight: Column = lit(1L)): DataFrame =
    df.filter(key.isNotNull)
      .select(weight.cast(LongType).as("__w"),
        explode(array((0 until depth).map(r =>
          struct(lit(r).as("r"),
            Bloom.position(key, r, width, seed).as("c"))): _*)).as("p"))
      .select(col("p.r").as("r"), col("p.c").as("c"), col("__w"))
      .groupBy("r", "c").agg(sum("__w").as("n"))

  /** Fold one micro-batch of keys into its own counter grid and write
    * it as the `batch=<batchId>` partition of the store at `path` —
    * the per-batch body of a streamed count-min store
    * (`StreamingIngest.foreachBatch(keys, cp)((b, id) =>
    * countMinAppend(b, key, depth, width, path, id))`). A replayed
    * batch OVERWRITES its own partition, so at-least-once delivery
    * stays exactly-once on the sketch without any anti-join (additive
    * state + deterministic batch ids is the cheapest idempotence in
    * the repo). A batch is ≤ depth·width rows no matter how many keys
    * it carried. Read the live grid with [[countMinLoad]]; collapse
    * old batches with [[compactCountMin]]. */
  def countMinAppend(batch: DataFrame, key: Column, depth: Int,
      width: Long, path: String, batchId: Long, seed: Long = 0L): Unit =
    countMinFit(batch, key, depth, width, seed)
      .write.mode("overwrite").parquet(s"$path/batch=$batchId")

  /** Sum a directory of per-batch grids (written by
    * [[countMinAppend]]) into the live counter grid. Additivity makes
    * this exact regardless of how many batch files exist; run
    * [[compactCountMin]] when the directory grows. */
  def countMinLoad(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(path).groupBy("r", "c").agg(sum("n").as("n"))

  /** Collapse all per-batch grids into one `batch=-1` partition, in
    * one [[Layout.replaceDir]] swap (a fresh temp dir, so a leftover
    * of an interrupted compaction is never swapped in), so the store
    * stays uniformly `batch=`-partitioned for both the reader and
    * future stream batches. */
  def compactCountMin(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    Layout.replaceDir(spark, path)(tmp =>
      countMinLoad(spark, path).write.mode("overwrite").parquet(s"$tmp/batch=-1"))

  /** Streaming approximate top-k support: given the live counter grid
    * and a candidate key set (typically the keys seen in a batch plus
    * the previously stored candidates), return the `k` keys with the
    * highest CMS estimates, `(key, est, rank)` by `(est desc, key)`.
    * One-sided error makes this conservative in the right direction:
    * a truly frequent key's estimate only exceeds its true count, so
    * it cannot be pushed out by undercounting — only by another key's
    * overcount (bounded by εN). The candidate set keeps the state
    * O(k + batch keys): keys never seen in any batch's top set can't
    * re-enter, which is the SpaceSaving trade every streaming top-k
    * makes. */
  def countMinTopK(candidates: DataFrame, key: Column, sketch: DataFrame,
      depth: Int, width: Long, k: Int, seed: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    countMinEstimate(candidates.select(key.as("key")).distinct(),
      col("key"), sketch, depth, width, seed)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("est").desc, col("key"))).cast(LongType))
      .filter(col("rank") <= k)
  }

  /** Streaming approximate top-k, one micro-batch: fold the batch into
    * the count-min grid at `<path>/sketch` ([[countMinAppend]]), then
    * re-rank the batch's own keys plus the stored candidates against
    * the LIVE grid and overwrite `<path>/topk` with the `k` best
    * ([[countMinTopK]]). State is O(k + batch keys) rows; estimates
    * are one-sided, so a frequent key can only be displaced by
    * overcount (≤ εN), never undercount — the SpaceSaving-style trade,
    * measured in SketchSpec. A replayed batch overwrites its own grid
    * partition and re-ranks against the same live grid. */
  def topKAppend(batch: DataFrame, key: Column, depth: Int, width: Long,
      k: Int, path: String, batchId: Long, seed: Long = 0L): Unit = {
    val spark = batch.sparkSession
    countMinAppend(batch, key, depth, width, s"$path/sketch", batchId, seed)
    val live = countMinLoad(spark, s"$path/sketch")
    val batchKeys = batch.select(key.as("key")).distinct()
    val prev = Layout.readIfExists(spark, s"$path/topk")(
      countMinTopK(batchKeys, col("key"), live, depth, width, k, seed))
    val cands = batchKeys.unionByName(prev.select("key")).distinct()
    countMinTopK(cands, col("key"), live, depth, width, k, seed)
      .transform(Layout.pin(_))
      .write.mode("overwrite").parquet(s"$path/topk")
  }

  // ---------------------------------------------------------------
  // Incremental cardinality: persisted HLL register stores
  // ---------------------------------------------------------------

  /** Per-group HLL sketches over `key` (Spark's native DataSketches
    * binary registers, `lgK` trading size for accuracy — rel. std.
    * error ≈ 1.04/√2^lgK). Unlike `approx_count_distinct`, the
    * registers themselves leave the query: they persist, union, and
    * keep absorbing new increments without ever rescanning old data —
    * per-source distinct-token/URL/user counts maintained forever at
    * a few KB per group. */
  def hllFit(df: DataFrame, key: Column, groups: Seq[String],
      lgK: Int = 12): DataFrame =
    df.filter(key.isNotNull)
      .groupBy(groups.map(col): _*)
      .agg(hll_sketch_agg(key, lit(lgK)).as("sketch"))

  /** Union sketch tables (any number of increments per group) down to
    * one register set per group. */
  def hllMerge(sketches: DataFrame, groups: Seq[String]): DataFrame =
    sketches.groupBy(groups.map(col): _*)
      .agg(hll_union_agg(col("sketch"), lit(true)).as("sketch"))

  /** `(groups…, n_distinct)` estimates from a sketch table. */
  def hllEstimate(sketches: DataFrame, groups: Seq[String]): DataFrame =
    hllMerge(sketches, groups)
      .select(groups.map(col) :+
        hll_sketch_estimate(col("sketch")).cast(LongType)
          .as("n_distinct"): _*)

  /** Fold one micro-batch into its own per-group sketches, written as
    * the `batch=<batchId>` partition of the store at `path` — the
    * per-batch body of a streamed HLL store. A replayed batch
    * overwrites its own partition (the count-min store's
    * exactly-once-without-anti-join trick; HLL registers are
    * union-mergeable, so the per-batch sketches ARE the state). Read
    * live estimates with [[hllLoad]] + [[hllEstimate]]. */
  def hllAppend(batch: DataFrame, key: Column, groups: Seq[String],
      path: String, batchId: Long, lgK: Int = 12): Unit =
    hllFit(batch, key, groups, lgK)
      .write.mode("overwrite").parquet(s"$path/batch=$batchId")

  /** Load the live per-group registers of a `batch=`-partitioned HLL
    * store (written by [[hllAppend]]). */
  def hllLoad(spark: org.apache.spark.sql.SparkSession, path: String,
      groups: Seq[String]): DataFrame =
    hllMerge(spark.read.parquet(path).select(
      (groups.map(col) :+ col("sketch")): _*), groups)

  /** Point-estimate the frequency of each row's `key`: the minimum
    * over the grid's `depth` cells the key hashes to (absent cell →
    * 0). Planned like [[Bloom.mightContain]]: `depth` broadcast hash
    * joins, no shuffle — the estimate column streams alongside the
    * input. Output = the input plus `est: BIGINT`. */
  def countMinEstimate(df: DataFrame, key: Column, sketch: DataFrame,
      depth: Int, width: Long, seed: Long = 0L,
      broadcastSketch: Boolean = true): DataFrame = {
    val keep = df.columns
    val joined = (0 until depth).foldLeft(
      df.withColumn("__cm_key", key)) { (acc, r) =>
      val side = sketch.filter(col("r") === r)
        .select(col("c").as(s"__cm_c$r"), col("n").as(s"__cm_n$r"))
      acc.join(if (broadcastSketch) broadcast(side) else side,
        Bloom.position(col("__cm_key"), r, width, seed) === col(s"__cm_c$r"),
        "left")
    }
    val est = (0 until depth).map(r => coalesce(col(s"__cm_n$r"), lit(0L)))
      .reduce((a, b) => least(a, b))
    joined.select(keep.map(col) :+ est.as("est"): _*)
  }
}
