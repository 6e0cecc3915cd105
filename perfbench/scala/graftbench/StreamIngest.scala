package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.Timeseries
import graft.model.{CountT, IntervalSpec}
import graft.time.TimeStep

/** `stream_ingest`: generated events fed through a `MemoryStream` in
  * fixed-size micro-batches into [[graft.Timeseries.streamAggregate]] —
  * the watermarked stateful count fold at minute buckets — with an
  * append-mode memory sink. Event time advances by a fixed step per
  * batch, so the watermark evicts state as fast as new state arrives;
  * timing starts once the state size has levelled off. Every emitted
  * (final) bucket is checked against the generator's own fold. */
final class StreamIngest(args: Args) extends Workload {
  import StreamIngest._

  private val gen = new EventGen(args.seed, StatCount, 1.1)

  /** Batch `b` as (name, epoch second, value) rows, and its fold into
    * `into`. Batch b's events fall in [T0 + b * StepSec, T0 + (b + 1) * StepSec). */
  private def batch(b: Int, into: mutable.LongMap[Double]): Seq[(String, Long, Double)] =
    (0 until BatchEvents).map { j =>
      val i = b.toLong * BatchEvents + j
      val stat = gen.name(i)
      val sec = Gen.T0 + b * StepSec + gen.offset(i, StepSec)
      val v = gen.value(i)
      if (into != null) {
        val k = (stat.toLong << 32) | Math.floorDiv(sec, 60L)
        into(k) = into.getOrElse(k, 0.0) + v
      }
      (Gen.statName(stat), sec, v.toDouble)
    }

  private var queryNo = 0

  /** A running stream over a fresh MemoryStream; returns the stream, the
    * query, its sink table and the time spent in `streamAggregate`. */
  private def start(spark: SparkSession, rec: Option[Recorder]) = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    queryNo += 1
    val mem = MemoryStream[(String, Long, Double)]
    val events = mem.toDF().select(col("_1").as("name"),
      timestamp_seconds(col("_2")).as("ts"), col("_3").as("value"))
    val t = new Timeseries(spark, CountT, Intervals)
    val t0 = System.nanoTime()
    val agg = t.streamAggregate(events, "minute", col("name"), col("ts"), col("value"))
    val buildMs = (System.nanoTime() - t0) / 1e6
    val sink = s"graftbench_stream_$queryNo"
    def go() = agg.writeStream.format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation", s"${args.work}/checkpoint-$queryNo").start()
    val q = rec.map(_.untagged(go())).getOrElse(go())
    (mem, q, sink, buildMs)
  }

  def setup(spark: SparkSession): Unit = {
    // warm-up: a short stream of its own through the same plan
    val (mem, q, sink, _) = start(spark, None)
    try { mem.addData(batch(0, null).take(WarmupEvents)); q.processAllAvailable() }
    finally q.stop()
    spark.catalog.dropTempView(sink)
  }

  def measure(spark: SparkSession, rec: Recorder): Outcome = {
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    val expected = mutable.LongMap[Double]()
    var b = 0
    // latest event time through the previous batch, and through this one
    var maxSecBefore, maxSec = Long.MinValue
    var buildMs = 0.0
    var failures = Vector.empty[String]
    var attempted = 0L
    var stream: (MemoryStream[(String, Long, Double)], StreamingQuery, String) = null

    /** One micro-batch: addData to the return of processAllAvailable. */
    def feed(kind: String, timed: Boolean, first: Boolean = false): Unit = {
      val rows = batch(b, expected)
      attempted += 1
      val res = scala.util.Try(rec.call(kind, s"batch$b", timed) { sc =>
        if (first) {
          val (mem, q, sink, ms) = start(spark, Some(rec))
          stream = (mem, q, sink); buildMs = ms
        }
        stream._1.addData(rows)
        stream._2.processAllAvailable()
        sc.result(rows.size)
      })
      res.failed.foreach(e => failures :+= s"batch $b: threw $e")
      maxSecBefore = maxSec
      maxSec = math.max(maxSec, rows.map(_._2).max)
      b += 1
    }

    // first call starts the query; then run until the state has levelled off
    feed("first", timed = false, first = true)
    val firstS = rec.all.last.nanos / 1e9
    val plateauT0 = System.nanoTime()
    def stateRows = Option(stream._2.lastProgress).flatMap(_.stateOperators.headOption)
      .map(_.numRowsTotal).getOrElse(0L)
    var prev = -1L
    while (b < PlateauMinBatches ||
        (b < 3 * PlateauMinBatches && math.abs(stateRows - prev) > 0.1 * math.max(prev, 1L))) {
      prev = stateRows
      feed("plateau", timed = false)
    }
    val plateauS = (System.nanoTime() - plateauT0) / 1e9
    val lastUntimed = rec.all.last.endMs

    val deadline = System.nanoTime() + args.seconds * 1000000000L
    var n = 0
    while (n < MinBatches || System.nanoTime() < deadline) { feed("batch", timed = true); n += 1 }
    // the watermark in force during the last batch: every bucket that
    // ends at or before it has been emitted
    val emittedBy = maxSecBefore - HorizonSec

    val q = stream._2
    val progress = settle(q).filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli > lastUntimed)
    q.stop()
    val sinkRows = spark.table(stream._3).collect()
    spark.catalog.dropTempView(stream._3)
    failures ++= check(sinkRows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq,
      expected, emittedBy)

    val timed = rec.all.filter(c => c.timed && c.kind == "batch")
    val ms = timed.map(_.ms)
    val tail = Stats.tail(ms)
    val rate = timed.map(_.resultRows).sum / (timed.map(_.nanos).sum / 1e9)
    val calls = timed.size.toDouble
    def dur(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / calls
    val states = progress.flatMap(_.stateOperators.headOption)
    def stateMean(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      if (states.isEmpty) 0.0 else states.map(f).sum / states.size
    Outcome(
      endToEnd = Map(
        "call_ms" -> Stats.trimmedMean(ms),
        "rows_per_s" -> rate),
      detail = Map(
        "stream_rows_per_s" -> rate, "first_batch_s" -> firstS, "stream_batch_p50_ms" -> Stats.median(ms),
        "stream_batch_tail_ms" -> tail.map(_.value), "stream_batch_tail_pct" -> tail.map(_.percentile),
        "batches" -> ms.size, "batch_events" -> BatchEvents, "plateau_s" -> plateauS,
        "plateau_batches" -> (b - n), "state_rows_at_plateau" -> prev,
        "emitted_buckets" -> sinkRows.length),
      attempted = attempted,
      failures = failures,
      groups = Seq("" -> timed),
      layers = Map(
        "timeseries.stream_build_ms" -> buildMs,
        "streaming.add_batch_ms" -> dur("addBatch"),
        "streaming.query_planning_ms" -> dur("queryPlanning"),
        "streaming.wal_commit_ms" -> dur("walCommit"),
        "streaming.commit_offsets_ms" -> dur("commitOffsets"),
        "streaming.triggers_per_call" -> progress.size / calls,
        "streaming.state_rows" -> stateMean(_.numRowsTotal.toDouble),
        "streaming.state_mb" -> stateMean(_.memoryUsedBytes / 1048576.0),
        "streaming.state_commit_ms" -> states.map(_.commitTimeMs.toDouble).sum / calls,
        "streaming.state_removal_ms" -> states.map(_.allRemovalsTimeMs.toDouble).sum / calls))
  }

  /** Wait until the query is idle, then return its progress updates. */
  private def settle(q: StreamingQuery): Seq[StreamingQueryProgress] = {
    val until = System.nanoTime() + 10000000000L
    while ((q.status.isTriggerActive || q.status.isDataAvailable) && System.nanoTime() < until)
      Thread.sleep(20)
    q.recentProgress.toSeq
  }
}

object StreamIngest {
  val StatCount = 1000
  val BatchEvents = 10000
  /** Event time covered by one batch, and the interval's retention. */
  val StepSec = 120L
  val HorizonSec = 360L
  val PlateauMinBatches: Int = (HorizonSec / StepSec).toInt + 2
  val MinBatches = 8
  val WarmupEvents = 2000

  val Intervals: Map[String, IntervalSpec] =
    Map("minute" -> IntervalSpec(TimeStep(60L), Some((HorizonSec / 60).toInt)))

  /** Failures among the emitted buckets (name, minute bucket, r_time,
    * value): a value that differs from the generator's fold, a bucket
    * emitted twice, or a bucket that ends by `emittedBy` (epoch seconds)
    * but is missing. */
  def check(rows: Seq[(String, Long, Long, Double)], expected: scala.collection.Map[Long, Double],
      emittedBy: Long): Seq[String] = {
    val seen = mutable.HashSet[Long]()
    val bad = rows.flatMap { case (name, minute, rTime, v) =>
      val k = (name.stripPrefix("stat").toLong << 32) | minute
      val want = expected.get(k)
      if (!seen.add(k)) Some(s"bucket $name@$minute emitted twice")
      else if (rTime != -1L) Some(s"bucket $name@$minute has r_time $rTime, expected -1")
      else if (!want.exists(w => math.abs(w - v) <= 1e-9 * math.max(1.0, w)))
        Some(s"bucket $name@$minute = $v, expected ${want.getOrElse("no bucket")}")
      else None
    }
    val missing = expected.keys.filter(k => (k & 0xFFFFFFFFL) * 60 + 60 <= emittedBy && !seen(k))
    bad ++ missing.headOption.map(k =>
      s"${missing.size} final buckets missing, e.g. ${Gen.statName((k >>> 32).toInt)}@${k & 0xFFFFFFFFL}")
  }
}
