package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
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
  * Every other store (the ANN and dedup indexes, score sinks, sketches,
  * moment and count stores) takes a stream through [[foreachBatch]]:
  * the caller passes the per-batch write of the op that owns the store,
  * and that op states its own replay contract.
  *
  * State note: count/gauge state is O(1) per bucket; series/set state
  * grows with bucket contents and is bounded only by the watermark TTL —
  * same caveat the reference carries implicitly.
  */
object StreamingIngest {

  /** Append each micro-batch to a parquet bucket store partitioned by
    * interval (idempotent-enough for at-least-once; exactly-once needs a
    * transactional table format underneath, same as any Spark sink). */
  def appendToStore(t: Timeseries, events: DataFrame, name: Column, ts: Column,
      value: Column, seq: Column, path: String, checkpoint: String) =
    t.bucketize(events, name, ts, value, seq)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .partitionBy("interval")
      .format("parquet")
      .outputMode("append")
      .start(path)

  /** Run `body(batch, batchId)` on every micro-batch of `df`,
    * checkpointed at `checkpoint` — the one entry point for streams
    * that land in a graft store. The store's per-batch write lives in
    * the op that owns it (e.g.
    * [[graft.ops.Curate.appendCuratedAgainst]],
    * [[graft.ops.Sketch.countMinAppend]]), and so does its replay
    * contract: foreachBatch is at-least-once, so a restarted query
    * hands a batch to `body` again under the same id. */
  def foreachBatch(df: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(body)
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
        t.seriesType.foldExprCapped(col("value"), col("ord"), t.valueType, c)
      case None => t.seriesType.foldExpr(col("value"), col("ord"), t.valueType)
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
}
