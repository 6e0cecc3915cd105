package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sequence packing — the last step of a training-data pipeline:
  * lay documents out into fixed-length context windows ("sequences")
  * for an LLM trainer. Two public layouts:
  *
  *  - [[packChopped]] — concatenate-and-chop: the shard's token
  *    stream is cut at every `seqLen` boundary regardless of document
  *    edges (the classic GPT-style pretraining layout — zero padding,
  *    documents may span sequences). Pure window arithmetic.
  *  - [[packGreedy]] — non-splitting first-fit-sequential: a document
  *    never crosses a sequence; a sequence closes when the next
  *    document doesn't fit (the SFT/packing-with-doc-boundaries
  *    layout — some padding, no cross-doc attention leakage).
  *    Inherently a sequential fold, run per shard in one
  *    sorted-partition pass.
  *
  * Both derive shard and within-shard order from md5(id·seed) — the
  * [[Mix]] selection primitive — so the layout is reproducible
  * bit-for-bit across runs, cluster sizes, retries, AND engines (the
  * driver oracles both layouts in DuckDB: chopped via the same window
  * arithmetic, greedy via a recursive CTE folding the same rule).
  *
  * Scale shape: ONE shuffle on `shard` (plus the in-partition sort
  * that hash-aggregation-free window/fold both need). Each shard is
  * corpus/shards rows — pick `shards` ≫ executor count so no window
  * partition exceeds executor memory; there is no global ordering
  * anywhere, which is what makes this layout valid at 100 TB (a
  * single global cumsum would serialize on one task).
  */
object Pack {

  /** md5-hex order key — the ONE shared portability primitive
    * ([[Mix.ordHash]]). */
  private def ordHex(id: Column, seed: Long): Column =
    Mix.ordHash(id, seed)

  /** Shard in [0, shards) from the first two hex nibbles of the order
    * hash — independent of the within-shard order bits in practice
    * (the ord compare is dominated by the full 32-digit string). */
  private def shardOf(h: Column, shards: Int): Column =
    conv(substring(h, 1, 2), 16, 10).cast(LongType) % shards

  /** Concatenate-and-chop layout. Output, one row per document:
    * (doc_id, shard, n_tokens, seq_first, seq_last, off) — the
    * document's tokens occupy the half-open span
    * [seq_first·L + off, …) of its shard's token stream, ending in
    * sequence `seq_last`. Documents with zero tokens are dropped
    * (they occupy no span). */
  def packChopped(docs: DataFrame, id: Column, nTokens: Column,
      seqLen: Int, shards: Int = 32, seed: Long = 0L): DataFrame = {
    require(seqLen > 0 && shards > 0, "seqLen and shards must be positive")
    val h = ordHex(id, seed)
    val base = docs.select(id.as("doc_id"),
        nTokens.cast(LongType).as("n_tokens"), h.as("__ord"))
      .withColumn("shard", shardOf(col("__ord"), shards))
      .filter(col("n_tokens") > 0)
    val w = Window.partitionBy("shard").orderBy(col("__ord"), col("doc_id"))
    base
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        floor((col("__cum") - col("n_tokens")) / seqLen).as("seq_first"),
        floor((col("__cum") - 1) / seqLen).as("seq_last"),
        ((col("__cum") - col("n_tokens")) % seqLen).as("off"))
  }

  /** Non-splitting first-fit-sequential layout. Output, one row per
    * document: (doc_id, shard, bin, n_tokens) — `bin` is the 0-based
    * sequence index within the shard. Rule, folded over the shard's
    * md5 order: a document joins the open sequence iff its tokens
    * still fit in `seqLen`, else it opens the next one. A document
    * longer than `seqLen` gets a sequence of its own (callers decide
    * whether to truncate or reject oversize docs upstream — the
    * layout never silently drops them). Zero-token documents are
    * dropped, as in [[packChopped]].
    *
    * Implementation: the fold is genuinely sequential per shard, so
    * it runs as one `mapPartitions` pass over shard-hash-partitioned,
    * (shard, ord)-sorted rows — the secondary-sort pattern; state is
    * two longs, reset at every shard boundary. mapPartitions (not a
    * window) because no SQL window can express "depends on my OWN
    * assigned bin" — same justified-imperative-kernel bar as the
    * multimodal codec pass. */
  def packGreedy(docs: DataFrame, id: Column, nTokens: Column,
      seqLen: Int, shards: Int = 32, seed: Long = 0L): DataFrame = {
    require(seqLen > 0 && shards > 0, "seqLen and shards must be positive")
    val h = ordHex(id, seed)
    val sorted = docs.select(id.as("doc_id"),
        nTokens.cast(LongType).as("n_tokens"), h.as("__ord"))
      .withColumn("shard", shardOf(col("__ord"), shards))
      .filter(col("n_tokens") > 0)
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("__ord"), col("doc_id"))
      .select(col("doc_id"), col("shard"), col("n_tokens"))
    // Row-encoded fold (not a tuple encoder): doc_id stays whatever
    // type the caller's id column has — string URLs pack as well as
    // numeric ids, like every other operator keyed by ordHash
    val outSchema = StructType(Seq(
      sorted.schema("doc_id"),
      StructField("shard", LongType, nullable = false),
      StructField("bin", LongType, nullable = false),
      StructField("n_tokens", LongType)))
    sorted.mapPartitions { it =>
      var curShard = Long.MinValue
      var bin = -1L
      var fill = 0L
      it.map { row =>
        val shard = row.getLong(1)
        val n = row.getLong(2)
        if (shard != curShard) { curShard = shard; bin = -1L; fill = 0L }
        if (bin < 0 || fill + n > seqLen) { bin += 1; fill = n }
        else fill += n
        org.apache.spark.sql.Row(row.get(0), shard, bin, n)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Persist a [[packChopped]] layout (same store conventions as
    * [[buildGreedyLayout]]: shard-partitioned rows, meta commit-marker
    * written last). */
  def buildChoppedLayout(docs: DataFrame, id: Column, nTokens: Column,
      path: String, seqLen: Int, shards: Int = 32, seed: Long = 0L): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    packChopped(docs, id, nTokens, seqLen, shards, seed)
      .write.mode("overwrite").partitionBy("shard")
      .parquet(s"$path/layout")
    Seq((seqLen, shards, seed)).toDF("seq_len", "shards", "seed")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Chop an increment ONTO a stored chopped layout: each shard's
    * token stream continues from its stored total (the chopped twin
    * of [[packGreedyAppend]] — equivalent to chopping "stored corpus
    * first, then increment"). Per-shard state is ONE total-tokens
    * row, broadcast; stored doc_ids anti-join away for replay
    * idempotency. Returns the increment's rows;
    * [[appendToChoppedLayout]] persists them. */
  def packChoppedAppend(spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame, id: Column,
      nTokens: Column): DataFrame = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val (seqLen, shards, seed) = (meta.getAs[Int]("seq_len"),
      meta.getAs[Int]("shards"), meta.getAs[Long]("seed"))
    val layout = spark.read.parquet(s"$path/layout")
      .withColumn("shard", col("shard").cast(LongType))
    // the chopped stream is contiguous, so a shard's write cursor is
    // simply the sum of its stored documents' tokens
    val state = layout.groupBy("shard")
      .agg(sum("n_tokens").as("base_tokens"))
    val h = ordHex(id, seed)
    val w = Window.partitionBy("shard").orderBy(col("__ord"), col("doc_id"))
    newDocs.select(id.as("doc_id"),
        nTokens.cast(LongType).as("n_tokens"), h.as("__ord"))
      .withColumn("shard", shardOf(col("__ord"), shards))
      .filter(col("n_tokens") > 0)
      // same two-layer duplicate guard as packGreedyAppend: anti-join
      // for cross-batch replays, dropDuplicates for in-batch repeats
      .dropDuplicates(Seq("doc_id"))
      .join(layout.select("doc_id"), Seq("doc_id"), "left_anti")
      .join(broadcast(state), Seq("shard"), "left")
      .withColumn("__cum",
        sum(col("n_tokens")).over(w) + coalesce(col("base_tokens"), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        floor((col("__cum") - col("n_tokens")) / seqLen).as("seq_first"),
        floor((col("__cum") - 1) / seqLen).as("seq_last"),
        ((col("__cum") - col("n_tokens")) % seqLen).as("off"))
  }

  /** Compute [[packChoppedAppend]] and persist it into the layout. */
  def appendToChoppedLayout(spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame, id: Column,
      nTokens: Column): Unit =
    packChoppedAppend(spark, path, newDocs, id, nTokens)
      .write.mode("append").partitionBy("shard").parquet(s"$path/layout")

  /** The loader-facing manifest of a [[packChopped]] layout: one row
    * per (document, sequence) SEGMENT — (doc_id, shard, seq,
    * tok_start, off_in_seq, seg_len), meaning tokens
    * [tok_start, tok_start+seg_len) of the document occupy positions
    * [off_in_seq, off_in_seq+seg_len) of sequence `seq` in its shard.
    * Segments of one sequence tile [0, seqLen) exactly (no padding
    * except the shard's final sequence), which is what lets a trainer
    * materialize any sequence by range-reading just the documents
    * listed under it. Pure per-row arithmetic + a bounded explode
    * (⌈n/L⌉+1 segments per doc) — no extra shuffle beyond
    * [[packChopped]]'s one. */
  def chopManifest(docs: DataFrame, id: Column, nTokens: Column,
      seqLen: Int, shards: Int = 32, seed: Long = 0L): DataFrame = {
    val packed = packChopped(docs, id, nTokens, seqLen, shards, seed)
    packed
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("off"),
        col("seq_first"),
        explode(sequence(col("seq_first"), col("seq_last"))).as("seq"))
      .select(col("doc_id"), col("shard"), col("seq"),
        when(col("seq") === col("seq_first"), lit(0L))
          .otherwise((col("seq") - col("seq_first")) * seqLen - col("off"))
          .as("tok_start"),
        when(col("seq") === col("seq_first"), col("off")).otherwise(lit(0L))
          .as("off_in_seq"),
        col("n_tokens"))
      .withColumn("seg_len",
        least(col("n_tokens") - col("tok_start"),
          lit(seqLen.toLong) - col("off_in_seq")))
      .drop("n_tokens")
  }

  /** Persist a [[packGreedy]] layout for incremental growth:
    * `path/layout` = the packed rows, `path/meta` = (seq_len, shards,
    * seed) written LAST as the commit marker (the index-store
    * convention) — pinning the geometry so every append folds under
    * the SAME rule and hash as the stored corpus. */
  def buildGreedyLayout(docs: DataFrame, id: Column, nTokens: Column,
      path: String, seqLen: Int, shards: Int = 32, seed: Long = 0L): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    // partitioned by shard: the consumer of a layout is a trainer
    // reading ONE shard per worker — a shard filter must prune to one
    // directory (PackSpec asserts PartitionFilters), not scan the
    // whole layout
    packGreedy(docs, id, nTokens, seqLen, shards, seed)
      .write.mode("overwrite").partitionBy("shard")
      .parquet(s"$path/layout")
    Seq((seqLen, shards, seed)).toDF("seq_len", "shards", "seed")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Pack an increment ONTO a stored greedy layout: new documents
    * fold in md5 order AFTER everything already packed, continuing
    * each shard's open sequence (its last bin and fill) — exactly the
    * fold [[packGreedy]] would produce over "stored corpus, then
    * increment". Already-stored doc_ids are skipped (idempotent under
    * replay, the appendTo* anti-join convention). Returns the
    * increment's assignments only; [[appendToGreedyLayout]] persists
    * them. Per-shard state is one (last_bin, fill) row — a broadcast
    * join, never a layout rescan per new doc. */
  def packGreedyAppend(spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame, id: Column,
      nTokens: Column): DataFrame = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val (seqLen, shards, seed) = (meta.getAs[Int]("seq_len"),
      meta.getAs[Int]("shards"), meta.getAs[Long]("seed"))
    // shard comes back as an inferred-int PARTITION column — restore
    // the layout's logical long type before joining against it
    val layout = spark.read.parquet(s"$path/layout")
      .withColumn("shard", col("shard").cast(LongType))
    val binFills = layout.groupBy("shard", "bin")
      .agg(sum("n_tokens").as("fill"))
    val state = binFills.groupBy("shard")
      .agg(max_by(struct(col("bin"), col("fill")), col("bin")).as("st"))
      .select(col("shard"), col("st.bin").as("last_bin"),
        col("st.fill").as("last_fill"))
    val h = ordHex(id, seed)
    val sorted = newDocs.select(id.as("doc_id"),
        nTokens.cast(LongType).as("n_tokens"), h.as("__ord"))
      .withColumn("shard", shardOf(col("__ord"), shards))
      .filter(col("n_tokens") > 0)
      // the anti-join makes CROSS-batch replays idempotent; the
      // dropDuplicates guards an id delivered twice WITHIN one
      // increment (an at-least-once source retrying inside a single
      // trigger) — duplicate rows are identical, any survivor is right
      .dropDuplicates(Seq("doc_id"))
      .join(layout.select("doc_id"), Seq("doc_id"), "left_anti")
      .join(broadcast(state), Seq("shard"), "left")
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("__ord"),
        coalesce(col("last_bin"), lit(-1L)).as("last_bin"),
        coalesce(col("last_fill"), lit(0L)).as("last_fill"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("__ord"), col("doc_id"))
      .select("doc_id", "shard", "n_tokens", "last_bin", "last_fill")
    // Row-encoded fold: doc_id keeps the caller's type (see packGreedy)
    val outSchema = StructType(Seq(
      sorted.schema("doc_id"),
      StructField("shard", LongType, nullable = false),
      StructField("bin", LongType, nullable = false),
      StructField("n_tokens", LongType)))
    sorted.mapPartitions { it =>
      var curShard = Long.MinValue
      var bin = -1L
      var fill = 0L
      it.map { row =>
        val shard = row.getLong(1)
        val n = row.getLong(2)
        if (shard != curShard) {
          curShard = shard; bin = row.getLong(3); fill = row.getLong(4)
        }
        if (bin < 0 || fill + n > seqLen) { bin += 1; fill = n }
        else fill += n
        org.apache.spark.sql.Row(row.get(0), shard, bin, n)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Compute [[packGreedyAppend]] and persist it into the layout
    * (same shard partitioning as the build). Streamed batch by batch,
    * the layout grows as the corpus arrives: micro-batch size only
    * moves sequence boundaries, never violates capacity, and replays
    * are idempotent on the store (doc_id anti-join). */
  def appendToGreedyLayout(spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame, id: Column,
      nTokens: Column): Unit =
    packGreedyAppend(spark, path, newDocs, id, nTokens)
      .write.mode("append").partitionBy("shard").parquet(s"$path/layout")

  /** Per-sequence utilization summary for a [[packGreedy]] layout:
    * (shard, bin, n_docs, fill, pad) — the padding-waste audit a
    * packing job reports. One hash aggregation over the layout. */
  def greedyUtilization(packed: DataFrame, seqLen: Int): DataFrame =
    packed.groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("fill"))
      .withColumn("pad",
        when(col("fill") < seqLen, lit(seqLen) - col("fill")).otherwise(lit(0L)))
}
