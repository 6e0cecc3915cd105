package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Timeseries
import graft.model._
import graft.time._

/** Structured Streaming surface (SURVEY.md §2.9).
  *
  * The reference is a live-ingest store queried at now(): an
  * incrementally-maintained bucket aggregate. Two streaming shapes map
  * that exactly:
  *
  *  1. **Log append** (`appendToStore`): bucketize each micro-batch with
  *     the SAME projection as batch ingest and append to the bucket
  *     store; reads stay lazy-aggregation (the engine's batch path).
  *     This is the durable shape — state never lives in the stream.
  *  2. **Live aggregate** (`aggregateStream`): watermarked streaming
  *     groupBy over bucket ids, maintaining the per-type fold in stream
  *     state. Watermark = steps×step, the exact equivalent of the
  *     reference's write-time TTL guard (timeseries.py:121-133,
  *     redis_backend.py:146-148): data older than the retention horizon
  *     is dropped at ingest.
  *
  * State note: count/gauge state is O(1) per bucket; series/set state
  * grows with bucket contents and is bounded only by the watermark TTL —
  * same caveat the reference carries implicitly.
  */
object StreamingIngest {

  /** Bucketize a (possibly streaming) events frame — identical
    * projection to Timeseries.bucketize, reused verbatim. */
  def bucketize(t: Timeseries, events: DataFrame, name: Column, ts: Column,
      value: Column, seq: Column): DataFrame =
    t.bucketize(events, name, ts, value, seq)

  /** Append each micro-batch to a parquet bucket store partitioned by
    * interval (idempotent-enough for at-least-once; exactly-once needs a
    * transactional table format underneath, same as any Spark sink). */
  def appendToStore(t: Timeseries, events: DataFrame, name: Column, ts: Column,
      value: Column, seq: Column, path: String, checkpoint: String) =
    bucketize(t, events, name, ts, value, seq)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .partitionBy("interval")
      .format("parquet")
      .outputMode("append")
      .start(path)

  /** Streaming maintenance of a persisted IVF index: each micro-batch
    * of (vec_id, embedding) rows is assigned to its nearest STORED
    * centroid and appended to the probed list partitions
    * ([[graft.ops.Similarity.appendToIvfIndex]] — no refit, no list
    * reads) — the ANN-store twin of [[appendToStore]]: index build is
    * a batch job, arrivals stream in, queries prune to probed
    * partitions throughout. At-least-once like any file append; a
    * replayed batch re-appends rows (reconcile downstream with exact
    * dedup on vec_id, or rebuild on centroid drift). */
  def appendStreamToIvfIndex(vectors: DataFrame, indexPath: String,
      checkpoint: String) =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Similarity.appendToIvfIndex(batch.sparkSession, indexPath, batch)
      }
      .start()

  /** Stream documents into a persisted BM25 search index
    * ([[graft.ops.Search.appendToIndex]] per micro-batch): postings
    * build is a batch job, arrivals stream in, queries stay pruned to
    * their term slivers throughout. At-least-once like any file
    * append — reconcile replays upstream with exact dedup on the doc
    * id. */
  def appendStreamToSearchIndex(docs: DataFrame, indexPath: String,
      checkpoint: String, text: Column, id: Column) =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Search.appendToIndex(batch.sparkSession, indexPath,
          batch, text, id)
      }
      .start()

  /** Stream documents into a persisted minhash near-dup index
    * ([[graft.ops.Dedup.appendToMinhashIndex]] per micro-batch): the
    * corpus signature store grows as documents arrive, and each
    * increment can be near-dup-checked against everything before it
    * ([[graft.ops.Dedup.nearDupAgainstIndex]]) without re-hashing
    * stored text. The append's doc_id anti-join makes replayed
    * micro-batches idempotent on the store. */
  def appendStreamToMinhashIndex(docs: DataFrame, indexPath: String,
      checkpoint: String, text: Column, id: Column) =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Dedup.appendToMinhashIndex(batch.sparkSession, indexPath,
          batch, text, id)
      }
      .start()

  /** Stream media rows into a persisted perceptual-hash index
    * ([[graft.ops.Multimodal.appendToPhashIndex]] per micro-batch):
    * arrivals fingerprint once and the growing corpus stays
    * incrementally dedupable via
    * [[graft.ops.Multimodal.phashAgainstIndex]]. Replays are
    * idempotent on the store (doc_id anti-join). */
  def appendStreamToPhashIndex(media: DataFrame, indexPath: String,
      checkpoint: String, id: Column, payload: Column) =
    media.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Multimodal.appendToPhashIndex(batch.sparkSession, indexPath,
          batch, id, payload)
      }
      .start()

  /** Stream training documents into a persisted decontamination gram
    * index ([[graft.ops.Decontaminate.appendToTrainIndex]] per
    * micro-batch): the train corpus' distinct-gram set grows as
    * documents arrive, and eval sets can be contamination-checked
    * against everything ingested so far
    * ([[graft.ops.Decontaminate.contaminationIndexed]]) without a
    * train-corpus rescan. The append's gram anti-join keeps the store
    * DISTINCT — which also makes replayed micro-batches idempotent (a
    * replayed gram is by definition already stored). */
  def appendStreamToTrainIndex(docs: DataFrame, indexPath: String,
      checkpoint: String, text: Column, n: Int) =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Decontaminate.appendToTrainIndex(batch.sparkSession,
          indexPath, batch, text, n)
      }
      .start()

  /** Stream embeddings into a persisted cosine near-dup index
    * ([[graft.ops.Similarity.appendToCosineIndex]] per micro-batch):
    * arrivals are signed once against the meta-pinned hyperplanes and
    * each increment can be near-dup-checked against the whole stored
    * corpus ([[graft.ops.Similarity.cosinePairsAgainstIndex]]).
    * Replays are idempotent on the store (vec_id anti-join). */
  def appendStreamToCosineIndex(vectors: DataFrame, indexPath: String,
      checkpoint: String, id: Column, vec: Column) =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Similarity.appendToCosineIndex(batch.sparkSession,
          indexPath, batch, id, vec)
      }
      .start()

  /** The online vector-dedup admission gate
    * ([[graft.ops.Similarity.appendGatedToCosineIndex]] per
    * micro-batch): every arriving vector is verdicted against the
    * stored corpus and its own batch, duplicates are rejected with a
    * (vec_id, dup_of, is_dup) ledger row, and only fresh vectors
    * enter the index — the embedding-space twin of the curateStream
    * fingerprint gate. Replays change neither the ledger nor the
    * index (anti-joins both sides). */
  def vectorGateStream(vectors: DataFrame, indexPath: String,
      outPath: String, checkpoint: String, id: Column, vec: Column,
      threshold: Double = 0.9) =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Similarity.appendGatedToCosineIndex(batch.sparkSession,
          indexPath, outPath, batch, id, vec, threshold)
      }
      .start()

  /** Stream documents into a persisted greedy pack layout
    * ([[graft.ops.Pack.appendToGreedyLayout]] per micro-batch): each
    * arrival folds onto its shard's open sequence under the
    * meta-pinned geometry, so the training layout GROWS as the corpus
    * streams in — no terminal repack job. Micro-batch size only moves
    * sequence boundaries (each batch continues the previous state),
    * never violates capacity; replays are idempotent on the store
    * (doc_id anti-join). */
  def appendStreamToPackLayout(docs: DataFrame, layoutPath: String,
      checkpoint: String, id: Column, nTokens: Column) =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Pack.appendToGreedyLayout(batch.sparkSession, layoutPath,
          batch, id, nTokens)
      }
      .start()

  /** Stream documents through perplexity scoring against STORED bigram
    * statistics ([[graft.ops.LangModel.buildBigramStats]]) — the CCNet
    * quality-filter shape made streaming: fit once on a trusted corpus
    * (a batch job), score every arriving crawl increment against it as
    * it lands. Scoring is stateless per micro-batch (two key-equality
    * joins against the stored stats plus one broadcast vocabulary
    * scalar — [[graft.ops.LangModel.scoreBigramAgainst]]), so there is
    * NO stream state at all: the stats store is the state, and it
    * never changes under the stream. Scored rows
    * (doc_id, n_bigrams, nll) append to `outPath`; replayed
    * micro-batches are idempotent on the sink (doc_id anti-join,
    * [[graft.ops.LangModel.appendScoredAgainst]]). */
  def scoreStreamAgainstBigramStats(docs: DataFrame, statsPath: String,
      outPath: String, checkpoint: String, text: Column, id: Column,
      k: Double = 0.5, roundTo: Int = 6) =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.LangModel.appendScoredAgainst(batch.sparkSession,
          statsPath, outPath, batch, text, id, k, roundTo)
      }
      .start()

  /** Maintain a count-min sketch over a key stream: each micro-batch
    * folds to its own counter grid and lands as the `batch=<id>`
    * partition of the store — REPLAYS OVERWRITE THE SAME PARTITION,
    * so at-least-once delivery stays exactly-once on the sketch
    * without any anti-join (additive state + deterministic batch ids
    * is the cheapest idempotence in the repo). Read the live grid
    * with [[graft.ops.Sketch.countMinLoad]] (sums partitions);
    * collapse old batches with [[graft.ops.Sketch.compactCountMin]].
    * A batch is ≤ depth·width rows no matter how many keys it
    * carried. */
  def sketchStreamCountMin(keys: DataFrame, outPath: String,
      checkpoint: String, key: Column, depth: Int, width: Long,
      seed: Long = 0L) =
    keys.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.ops.Sketch.countMinFit(batch, key, depth, width, seed)
          .write.mode("overwrite").parquet(s"$outPath/batch=$id")
      }
      .start()

  /** Maintain a PCA moment store over a vector stream: each
    * micro-batch folds to its ONE-ROW (n, Σx, Σxxᵀ) summary
    * ([[graft.ops.Pca.appendMoments]]) landing as the `batch=<id>`
    * partition — replays overwrite the same partition, so
    * at-least-once delivery stays exactly-once on the moments
    * (additive state + deterministic batch ids, the count-min
    * trick). [[graft.ops.Pca.fitFromStore]] then yields the grown
    * corpus' eigenbasis with no rescan of old vectors. */
  def momentStreamAppend(vectors: DataFrame, outPath: String,
      checkpoint: String, vec: Column, dims: Int) =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.ops.Pca.appendMoments(batch, vec, dims, outPath, id)
      }
      .start()

  /** Streaming approximate top-k: maintain a count-min grid (per-batch
    * `batch=<id>` partitions, replay-overwrite exactly-once) AND a
    * top-k candidate store — each batch re-ranks its own keys plus the
    * stored candidates against the LIVE grid and overwrites
    * `<store>/topk`. State is O(k + batch keys) rows; estimates are
    * one-sided, so a frequent key can only be displaced by overcount
    * (≤ εN), never undercount — the SpaceSaving-style trade,
    * measured in SketchSpec. */
  def sketchStreamTopK(rows: DataFrame, storePath: String,
      checkpoint: String, key: Column, depth: Int, width: Long, k: Int,
      seed: Long = 0L) =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        graft.ops.Sketch.countMinFit(batch, key, depth, width, seed)
          .write.mode("overwrite").parquet(s"$storePath/sketch/batch=$id")
        val live = graft.ops.Sketch.countMinLoad(spark, s"$storePath/sketch")
        val batchKeys = batch.select(key.as("key")).distinct()
        val prev = graft.ops.Layout.readIfExists(spark, s"$storePath/topk")(
          graft.ops.Sketch.countMinTopK(batchKeys, col("key"), live,
            depth, width, k, seed))
        val cands = batchKeys.unionByName(prev.select("key")).distinct()
        val top = graft.ops.Sketch.countMinTopK(cands, col("key"), live,
          depth, width, k, seed).localCheckpoint(true)
        top.write.mode("overwrite").parquet(s"$storePath/topk")
      }
      .start()

  /** Maintain per-group HLL cardinality registers over a stream:
    * each micro-batch folds to its own per-group sketches in the
    * `batch=<id>` store partition (replays overwrite — the same
    * exactly-once-without-anti-join trick as the count-min store;
    * HLL registers are union-mergeable, so per-batch sketches ARE the
    * state). Read live estimates with [[graft.ops.Sketch.hllLoad]] +
    * [[graft.ops.Sketch.hllEstimate]]. */
  def sketchStreamHll(rows: DataFrame, outPath: String,
      checkpoint: String, key: Column, groups: Seq[String],
      lgK: Int = 12) =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.ops.Sketch.hllFit(batch, key, groups, lgK)
          .write.mode("overwrite").parquet(s"$outPath/batch=$id")
      }
      .start()

  /** Stream documents through Naive-Bayes classifier scoring against
    * a STORED model ([[graft.ops.Classify.saveModel]]) — the
    * model-based quality filter made streaming, same shape as the
    * perplexity scorer above: the model store IS the state (fit once
    * on the labeled seed set, never touched by the stream), scoring
    * is one token join per micro-batch. Scored rows
    * (doc_id, n_tokens, score, prob, pred) append to `outPath`;
    * replays are idempotent on the sink (doc_id anti-join,
    * [[graft.ops.Classify.appendScoredAgainst]]). */
  def scoreStreamAgainstNbModel(docs: DataFrame, modelPath: String,
      outPath: String, checkpoint: String, text: Column, id: Column,
      roundTo: Int = 6) =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Classify.appendScoredAgainst(batch.sparkSession,
          modelPath, outPath, batch, text, id, roundTo)
      }
      .start()

  /** Stream crawl increments into the additive collocation-count
    * store ([[graft.ops.Colloc.buildCountsStore]]): each micro-batch
    * writes its pair counts as `batch=<epochId+1>` (the micro-batch
    * id keys the partition, so a replayed batch OVERWRITES itself —
    * exactly-once by layout, the count-min streaming contract applied
    * to exact counts). Reads sum across batches; no re-tokenization
    * of anything already counted. */
  def appendStreamToCollocCounts(docs: DataFrame, path: String,
      checkpoint: String, text: Column, window: Int) =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        graft.ops.Colloc.appendCountsBatch(batch, text, window,
          path, batchId = epochId + 1)
      }
      .start()

  /** Stream crawled documents through snapshot-delta classification
    * against the STORED fingerprint table
    * ([[graft.ops.Snapshot.buildFingerprintStore]]): each micro-batch
    * is one (id-keyed) left join against yesterday's ~24-byte/doc
    * state, appending added/changed/unchanged rows; 'removed' is a
    * batch reconciliation after the crawl closes (absent ids never
    * arrive on a stream). Replay-idempotent on the sink. */
  def deltaStreamAgainstFingerprintStore(docs: DataFrame, storePath: String,
      outPath: String, checkpoint: String, id: Column, content: Column) =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Snapshot.appendDeltaAgainst(batch.sparkSession,
          storePath, outPath, batch, id, content)
      }
      .start()

  /** Stream documents through DSIR importance scoring against STORED
    * bucket statistics ([[graft.ops.Dsir.buildStats]]) — the
    * domain-tilt filter made streaming, same shape as the perplexity
    * scorer above: the stats store IS the state (fit once on the
    * reference corpus, never touched by the stream), scoring is one
    * key-equality join per micro-batch, and add-α smoothing absorbs
    * buckets the reference never saw. Scored rows
    * (doc_id, n_grams, logw) append to `outPath`; replays are
    * idempotent on the sink (doc_id anti-join,
    * [[graft.ops.Dsir.appendScoredAgainst]]). */
  def scoreStreamAgainstDsirStats(docs: DataFrame, statsPath: String,
      outPath: String, checkpoint: String, text: Column, id: Column,
      alpha: Double = 0.25, roundTo: Int = 6) =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Dsir.appendScoredAgainst(batch.sparkSession,
          statsPath, outPath, batch, text, id, alpha, roundTo)
      }
      .start()

  /** The curation funnel as a stream — the flagship batch operator's
    * streaming twin ([[graft.ops.Curate.appendCuratedAgainst]] per
    * micro-batch): scalar filters are stateless projections, exact
    * dedup keeps first-arrival via a growing fingerprint store (the
    * store IS the stream state, like every index stream here), and the
    * optional perplexity ceiling scores against stored bigram stats.
    * Near-dup clustering is deliberately absent — its streaming shape
    * is [[appendStreamToMinhashIndex]] + reconciliation, not a
    * per-batch CC. Ledger rows land append-only at `outPath`; replays
    * are idempotent on both the store and the sink. */
  def curateStream(docs: DataFrame, storePath: String, outPath: String,
      checkpoint: String, text: Column, id: Column,
      cfg: graft.ops.Curate.Config = graft.ops.Curate.Config()) =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Curate.appendCuratedAgainst(batch.sparkSession,
          storePath, outPath, batch, text, id, cfg)
      }
      .start()

  /** Streaming rolling z-score anomaly detection — the streaming twin
    * of [[graft.ops.Features.zscoreAnomaly]]: a watermarked window
    * aggregation closes (name, bucket) sums in event-time order, and
    * each micro-batch of closed buckets is scored against the trailing
    * `window` buckets per name — read from the append-only bucket log
    * at `storePath`, UNION the earlier closed buckets of the same
    * micro-batch (two buckets of one name can close together; the
    * later must see the earlier) — then appended to that log. Scored
    * rows (name, i_time, value, base_mean, base_std, z, is_anomaly)
    * append to `outPath`.
    *
    * Exactness: append-mode emission is one row per closed bucket, so
    * the store accumulates exactly the closed-bucket history and the
    * verdicts equal the batch operator over the same buckets
    * (StreamingSpec asserts equality, spike included). Same null
    * contract: no verdict until the trailing window is full with
    * positive spread. The bucket LOG is idempotent under foreachBatch
    * replay (anti-join on (name, i_time) before append), so baselines
    * stay exact across at-least-once restarts; the scored SINK at
    * `outPath` is at-least-once like any file append — reconcile with
    * [[graft.ops.Layout.compactFiles]]-style maintenance or exact
    * dedup on (name, i_time) if it must be exactly-once. */
  def anomalyStream(events: DataFrame, name: Column, ts: Column,
      value: Column, stepSec: Long, lateSec: Long, window: Int,
      threshold: Double, storePath: String, outPath: String,
      checkpoint: String) = {
    val closed = events
      .select(name.as("name"), ts.as("__ts"), value.as("value"))
      .withWatermark("__ts", s"$lateSec seconds")
      .groupBy(col("name"),
        org.apache.spark.sql.functions.window(col("__ts"), s"$stepSec seconds").as("w"))
      .agg(sum("value").as("value"))
      .select(col("name"), unix_timestamp(col("w.start")).as("i_time"),
        col("value"))
    closed.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val b = batch.persist()
        // Hadoop-FS existence probe (not java.io.File): the store may
        // live on HDFS/S3/ABFS where a local probe is always false and
        // would silently score every batch against an empty history
        val stored = graft.ops.Layout.readIfExists(spark, storePath)(b)
        // trailing rows per scored bucket: all earlier buckets of the
        // name (stored + earlier same-batch), most recent `window`.
        // dropDuplicates: under replay a batch's buckets are ALREADY in
        // the store; closed-bucket values are deterministic, so keeping
        // one copy per (name, h_time) makes replayed scoring exact too
        val hist = stored.unionByName(b)
          .select(col("name"), col("i_time").as("h_time"),
            col("value").as("h_value"))
          .dropDuplicates("name", "h_time")
        val joined = b.join(hist, Seq("name"), "left")
          .filter(col("h_time") < col("i_time"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("name", "i_time").orderBy(col("h_time").desc)
        val trailing = joined
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= window)
          .groupBy("name", "i_time")
          .agg(avg("h_value").as("base_mean"),
            stddev_samp("h_value").as("base_std"),
            count(lit(1)).as("__n"))
        val z = when(col("__n") === window && col("base_std") > 0,
          (col("value") - col("base_mean")) / col("base_std"))
        b.join(trailing, Seq("name", "i_time"), "left")
          .select(col("name"), col("i_time"), col("value"),
            col("base_mean"), col("base_std"), z.as("z"),
            coalesce(abs(z) >= threshold, lit(false)).as("is_anomaly"))
          .write.mode("append").parquet(outPath)
        // idempotent under foreachBatch replay (at-least-once restart
        // semantics): a replayed batch would re-append its buckets and
        // the row_number trailing window would then count duplicates,
        // shrinking the effective baseline — anti-join against the
        // store on the bucket key first, the same doc_id anti-join
        // pattern the incremental dedup indexes use
        b.join(stored.select("name", "i_time"), Seq("name", "i_time"),
            "left_anti")
          .select("name", "i_time", "value")
          .write.mode("append").parquet(storePath)
        b.unpersist()
        ()
      }
      .start()
  }

  /** Streaming ordered funnel — the custom-state streaming twin of
    * [[graft.ops.Sessions.funnel]], on `flatMapGroupsWithState` with
    * an EVENT-TIME timeout: per key, step events buffer in state until
    * the watermark passes the key's last activity plus `horizonSec`,
    * then the buffer folds under the batch operator's exact strict
    * in-order contract and ONE final row per key emits
    * (`key, t_<step>…, depth`). Buffering-then-folding (rather than
    * folding incrementally) keeps cross-batch out-of-order arrivals
    * exact: a step-1 event arriving a batch after a step-2 event still
    * counts, as in batch — only watermark-late data is lost. State per
    * key is the key's events inside the horizon, the same bound as any
    * watermarked aggregation.
    *
    * Equal-time ordering follows (sec, tieBreak) like the batch
    * operator; fold parity is asserted against [[graft.ops.Sessions
    * .funnel]] in StreamingSpec, including a cross-batch out-of-order
    * case. */
  def funnelStream(events: DataFrame, key: Column, ts: Column,
      tieBreak: Column, step: Column, steps: Seq[String],
      horizonSec: Long): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    require(steps.nonEmpty, "funnel needs at least one step")
    val stepIdx = steps.zipWithIndex.toMap

    // the watermark COLUMN must survive into the stateful operator —
    // projecting it away would drop the watermark itself; micros ride
    // alongside it
    val typed = events
      .select(key.cast(org.apache.spark.sql.types.LongType).as("k"),
        ts.as("ts"), tieBreak.cast(org.apache.spark.sql.types.LongType).as("tie"),
        step.cast(org.apache.spark.sql.types.StringType).as("step"))
      .withWatermark("ts", s"$horizonSec seconds")
      .select(col("k"), col("ts"), unix_micros(col("ts")).as("us"),
        col("tie"), col("step"))
      .as[(Long, java.sql.Timestamp, Long, Long, String)]

    def fold(evs: Seq[(Long, Long, Int)]): (Seq[Long], Int) = {
      // evs: (sec-ish micros, tie, stepIdx); reach(i) = MaxValue until hit
      val reach = Array.fill(steps.size)(Long.MaxValue)
      evs.sortBy(e => (e._1, e._2)).foreach { case (t, _, i) =>
        if (i == 0) { if (t < reach(0)) reach(0) = t }
        else if (reach(i - 1) != Long.MaxValue && t >= reach(i - 1) &&
          t < reach(i)) reach(i) = t
      }
      val depth = reach.takeWhile(_ != Long.MaxValue).length
      (reach.toSeq, depth)
    }

    val out = typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[Seq[(Long, Long, Int)], (Long, Seq[Long], Int)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k, it, state: GroupState[Seq[(Long, Long, Int)]]) =>
          if (state.hasTimedOut) {
            val (reach, depth) = fold(state.get)
            state.remove()
            Iterator.single((k, reach, depth))
          } else {
            val fresh = it
              .flatMap(e => stepIdx.get(e._5).map(i => (e._3, e._4, i)))
              .toSeq
            val buf = state.getOption.getOrElse(Seq.empty) ++ fresh
            state.update(buf)
            // finalize once the watermark passes last activity + horizon;
            // a timeout must sit beyond the CURRENT watermark (a
            // within-watermark straggler could otherwise compute one
            // behind it, which Spark rejects) — clamping just defers
            // that key's finalization to the next watermark advance
            val lastMs = buf.map(_._1).foldLeft(0L)(math.max) / 1000L
            state.setTimeoutTimestamp(math.max(lastMs + horizonSec * 1000L,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
      }

    val reachCols = steps.indices.map { i =>
      when(col("_2")(i) =!= Long.MaxValue,
        (col("_2")(i) / 1000000L).cast("long"))
        .as(s"t_${steps(i)}")
    }
    out.toDF().select(col("_1").as("k") +: reachCols :+
      col("_3").cast("int").as("depth"): _*)
  }

  /** Streaming exact deduplication of a document stream: drop rows
    * whose content hash was already seen within the watermark horizon.
    *
    * `dropDuplicatesWithinWatermark` — NOT plain `dropDuplicates`,
    * which only evicts state when the event-time column is part of the
    * key set, i.e. would grow its hash state unboundedly here — keeps
    * per-hash state only until the watermark passes `horizonSec` beyond
    * the key's event time. Bounded state on an infinite stream; the
    * trade is that a duplicate arriving more than `horizonSec` late
    * passes (downstream batch [[graft.ops.Dedup.exact]] reconciles).
    * The content hash is computed once and kept in the output for that
    * reconciliation. */
  def dedupStream(docs: DataFrame, ts: Column, text: Column,
      horizonSec: Long): DataFrame =
    docs
      .withColumn("__ts", ts)
      .withColumn("content_hash", md5(text.cast(org.apache.spark.sql.types.BinaryType)))
      .withWatermark("__ts", s"$horizonSec seconds")
      .dropDuplicatesWithinWatermark("content_hash")
      .drop("__ts")

  /** Watermarked streaming sessionization — the streaming twin of
    * [[graft.ops.Sessions.sessionize]]. One row per CLOSED session
    * (append mode): keys, session_start/session_end (event-time),
    * n_events, total_value. Built on `session_window`, so session
    * state merges across micro-batches and evicts once the watermark
    * passes a session's end + gap — bounded state on an unbounded
    * stream, the only sessionization shape that survives at ingest
    * scale.
    *
    * Boundary parity with the batch operator: `session_window` merges
    * touching windows (an event exactly gapSec after its predecessor
    * extends the session), the same `gap > gapSec`-splits contract as
    * [[graft.ops.Sessions.sessionize]] — asserted both ways in
    * StreamingSpec. */
  def sessionStream(events: DataFrame, keys: Seq[String], ts: Column,
      value: Column, gapSec: Long, horizonSec: Long): DataFrame =
    events
      .select(keys.map(col) :+ ts.as("__ts") :+ value.as("__v"): _*)
      .withWatermark("__ts", s"$horizonSec seconds")
      .groupBy(keys.map(col) :+
        session_window(col("__ts"), s"$gapSec seconds").as("__w"): _*)
      .agg(count(lit(1)).as("n_events"), sum(col("__v")).as("total_value"))
      .select(keys.map(col) :+ col("__w.start").as("session_start") :+
        col("__w.end").as("session_end") :+ col("n_events") :+
        col("total_value"): _*)

  /** Watermarked live bucket aggregate for one interval. Late data
    * beyond steps×step (the TTL horizon) is dropped and finalized
    * window state is evicted — the streaming twin of the reference's
    * write-time TTL guard (timeseries.py:121-133,
    * redis_backend.py:146-148). If the interval has no TTL, a generous
    * default horizon is used (state must be bounded in a stream even
    * though the reference keeps data forever).
    *
    * The grouping key is `window(ts, …)` at the RESOLUTION granularity
    * (not a derived bucket-id column) so Spark can tie the aggregation
    * state to the watermark — eviction and append-mode finalization
    * only work when the event-time window is a group key. Bucket ids
    * are projected from the window start afterwards. Relative-step
    * buckets are epoch-aligned exactly like tumbling windows, so the
    * mapping is 1:1; Gregorian intervals stream at whole-day
    * sub-granularity (calendar months can't be fixed-width windows) and
    * the store/read path folds days into calendar buckets — the same
    * monoid merge as batch condense.
    *
    * Output: (name, i_time, r_time, value). Deviation from the batch
    * path, by design: a stream has no global arrival order, so `ord` is
    * event-time micros (gauge = last by event time, series = event-time
    * ordered) rather than insert sequence.
    */
  def aggregateStream(t: Timeseries, events: DataFrame, interval: String,
      name: Column, ts: Column, value: Column,
      defaultHorizonSec: Long = 7L * 86400,
      bucketElemCap: Option[Int] = None): DataFrame = {
    val sp = t.intervals(interval)
    val step = sp.step match {
      case RelativeStep(s)  => s
      case _: GregorianStep => 86400L // calendar buckets: day-granular horizon
    }
    val windowSec: Long =
      (if (sp.coarse) sp.step else sp.resolution.get) match {
        case RelativeStep(s)  => s
        case _: GregorianStep => 86400L
      }
    val horizon = sp.steps.map(_ * step).getOrElse(defaultHorizonSec)
    val withWm = events
      .select(name.cast(StringType).as("name"), ts.as("ts"),
        value.cast(t.valueType).as("value"),
        unix_micros(ts).as("ord"))
      .withWatermark("ts", s"$horizon seconds")
    // optional hostile-hot-bucket hardening: series/set state is
    // inherently O(rows-in-bucket) within the watermark TTL; the cap
    // swaps the fold for the BoundedCollect O(cap) buffer (count/
    // gauge/histogram state is already bounded and ignores it). The
    // kept subset is the order-smallest prefix — deterministic under
    // replay, identical to the uncapped fold when the bucket fits.
    val fold = bucketElemCap match {
      case Some(c) =>
        graft.ops.Ledger.note("stream_bucket_cap",
          s"${t.seriesType.typeName}/$interval stream state capped at " +
          s"$c elements per bucket (order-smallest kept)")
        t.seriesType.foldExprCapped(col("value"), col("ord"), c)
      case None => t.seriesType.foldExpr(col("value"), col("ord"))
    }
    val agged = withWm
      .groupBy(col("name"), window(col("ts"), s"$windowSec seconds").as("w"))
      .agg(fold.as("value"))
    agged.select(
      col("name"),
      TimeColumns.bucket(col("w.start"), sp.step).as("i_time"),
      (if (sp.coarse) lit(-1L)
       else TimeColumns.bucket(col("w.start"), sp.resolution.get)).as("r_time"),
      col("value"))
  }

  /** Robots-gated crawl frontier on a STREAMING url frame — the
    * zero-aggregation map-side gate
    * ([[graft.ops.Urls.robotsVerdictsMapSide]]): the per-host rule
    * arrays broadcast as a stream-static equi-join and the RFC winner
    * is an array fold in the projection, so the query runs in append
    * mode with no watermark and NO state store — candidate URLs gate
    * at wire speed as they are discovered. Returns the gate's
    * (doc_id, url, host, path, allowed) rows as a streaming frame the
    * caller sinks. */
  def frontierGateStream(urls: DataFrame, url: Column, id: Column,
      robots: DataFrame, robotsHost: Column, robotsTxt: Column,
      agent: String): DataFrame =
    graft.ops.Urls.robotsVerdictsMapSide(urls, url, id, robots,
      robotsHost, robotsTxt, agent)
}
