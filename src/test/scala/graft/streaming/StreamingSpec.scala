package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.Timeseries
import graft.model._
import graft.time._

/** Streaming semantics (SURVEY.md §2.9): the same bucket projection +
  * per-type fold, fed by micro-batches, converges to the batch result. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val T0 = 500000L * 3600L

  /** State-store metrics (max memory bytes, max rows) from a query's
    * progress reports, once the report of its last committed batch is
    * visible. `processAllAvailable` guarantees the batches COMMITTED,
    * but the stream thread appends each progress report after the
    * commit — under heavy machine load a read right after
    * processAllAvailable can see batch 1's report and not the last
    * one's. Poll for the last committed batch id instead. */
  private def stateMetrics(q: org.apache.spark.sql.streaming.StreamingQuery): (Long, Long) = {
    val last = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.commitLog
      .getLatestBatchId().getOrElse(fail("no committed batch"))
    var tries = 0
    while (tries < 100) {
      val progress = q.recentProgress
      val ops = progress.flatMap(_.stateOperators)
      if (progress.exists(_.batchId == last) && ops.nonEmpty)
        return (ops.map(_.memoryUsedBytes).max, ops.map(_.numRowsTotal).max)
      Thread.sleep(50)
      tries += 1
    }
    fail(s"no state-operator progress for committed batch $last visible after 5s")
  }

  val minuteHour: Map[String, IntervalSpec] = Map(
    "minute" -> IntervalSpec(TimeStep(60L), Some(5), None),
    "hour"   -> IntervalSpec(TimeStep(3600L), None, Some(TimeStep(60L))))

  test("streaming count aggregate converges to the batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val t = new Timeseries(spark, CountT, minuteHour)
    val mem = MemoryStream[(String, Long, Double)]
    val events = mem.toDF()
      .select(col("_1").as("name"), timestamp_seconds(col("_2")).as("ts"), col("_3").as("value"))

    val agg = StreamingIngest.aggregateStream(t, events, "hour",
      col("name"), col("ts"), col("value"))
    val q = agg.writeStream.format("memory").queryName("stream_counts")
      .outputMode("complete").start()

    // two micro-batches across two resolution buckets
    mem.addData(("s", T0 + 1, 2.0), ("s", T0 + 2, 3.0))
    q.processAllAvailable()
    mem.addData(("s", T0 + 61, 5.0), ("s", T0 + 7200, 7.0))
    q.processAllAvailable()

    val got = spark.table("stream_counts")
      .select("name", "i_time", "r_time", "value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    q.stop()

    val hb = T0 / 3600 // hour bucket of T0
    assert(got === Set(
      ("s", hb, T0 / 60, 5.0),          // T0+1, T0+2 fold into minute r-bucket 0
      ("s", hb, T0 / 60 + 1, 5.0),      // T0+61
      ("s", hb + 2, T0 / 60 + 120, 7.0) // T0+7200 in the next-next hour
    ))

    // batch equivalence: same log through the batch engine
    val bt = new Timeseries(spark, CountT, minuteHour)
    bt.insert("s", 2.0, (T0 + 1).toDouble); bt.insert("s", 3.0, (T0 + 2).toDouble)
    bt.insert("s", 5.0, (T0 + 61).toDouble); bt.insert("s", 7.0, (T0 + 7200).toDouble)
    val batch = bt.get(Seq("s"), "hour", (T0 + 1).toDouble, condense = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(batch(T0) === 5.0 + 5.0)
  }

  test("streaming gauge keeps last write per bucket across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val t = new Timeseries(spark, GaugeT, minuteHour)
    val mem = MemoryStream[(String, Long, Double)]
    val events = mem.toDF()
      .select(col("_1").as("name"), timestamp_seconds(col("_2")).as("ts"), col("_3").as("value"))
    val agg = StreamingIngest.aggregateStream(t, events, "minute",
      col("name"), col("ts"), col("value"))
    val q = agg.writeStream.format("memory").queryName("stream_gauge")
      .outputMode("complete").start()

    mem.addData(("g", T0 + 1, 1.0), ("g", T0 + 5, 2.0))
    q.processAllAvailable()
    mem.addData(("g", T0 + 30, 9.0))
    q.processAllAvailable()
    val got = spark.table("stream_gauge").select("i_time", "value")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    q.stop()
    assert(got === Map(T0 / 60 -> 9.0)) // last event time wins across batches
  }

  test("streaming fold equals the batch fold for all five series types") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // duplicate-heavy, out-of-order fixture across two hours; ord in the
    // stream is event-time micros, so make event times unique per name
    // (the documented arrival-order deviation doesn't bite then)
    val fixture = Seq(
      ("s", T0 + 5L, 3.0), ("s", T0 + 2L, 1.0), ("s", T0 + 70L, 4.0),
      ("s", T0 + 65L, 4.0), ("s", T0 + 3700L, 9.0), ("t", T0 + 5L, 7.0),
      ("t", T0 + 61L, 7.0), ("t", T0 + 62L, 8.0), ("s", T0 + 130L, 1.0))

    for (st <- SeriesType.all) {
      val t = new Timeseries(spark, st, minuteHour)
      val mem = MemoryStream[(String, Long, Double)]
      val events = mem.toDF()
        .select(col("_1").as("name"), timestamp_seconds(col("_2")).as("ts"), col("_3").as("value"))
      val agg = StreamingIngest.aggregateStream(t, events, "hour",
        col("name"), col("ts"), col("value"))
      val qn = s"stream_eq_${st.typeName}"
      val q = agg.writeStream.format("memory").queryName(qn)
        .outputMode("complete").start()
      // two micro-batches to exercise cross-batch state merge
      mem.addData(fixture.take(5): _*); q.processAllAvailable()
      mem.addData(fixture.drop(5): _*); q.processAllAvailable()
      // map entry order is fold-order-dependent — canonicalize for compare
      def canon(c: org.apache.spark.sql.Column) =
        if (st == HistogramT) array_sort(map_entries(c)).cast(StringType) else c.cast(StringType)
      val streamed = spark.table(qn)
        .select(col("name"), col("i_time"), col("r_time"), canon(col("value")))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      q.stop()

      // documented deviation: stream ord is EVENT time (no global
      // arrival order exists in a stream) — feed the batch twin in
      // event-time order so the series contract lines up
      val bt = new Timeseries(spark, st, minuteHour)
      for ((n, ts, v) <- fixture.sortBy(_._2)) bt.insert(n, v, ts.toDouble)
      val prepared = bt.log.filter(col("interval") === "hour")
        .select(col("name"), col("i_time"), col("r_time"),
          struct(col("r_time"), col("seq")).as("ord"), col("value"))
      val batch = st.aggregate(prepared, Seq("name", "i_time", "r_time"))
        .select(col("name"), col("i_time"), col("r_time"), canon(col("value")))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      assert(streamed === batch, s"type ${st.typeName}")
    }
  }

  test("streaming histogram state is O(distinct values), not O(rows)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // Same row count, same single (name, hour-window) group, two runs:
    // A = duplicate-heavy (4 distinct values), B = all-distinct (3000
    // values). With the CountByValue fold the state-store row per
    // bucket is the serialized value→count map, so A's state must be a
    // small fraction of B's (the old collect_list fold buffered every
    // raw value — both runs would weigh the same).
    def run(values: Seq[Double]): (Long, Long, Map[Double, Long]) = {
      val t = new Timeseries(spark, HistogramT, minuteHour)
      val mem = MemoryStream[(String, Long, Double)]
      val events = mem.toDF()
        .select(col("_1").as("name"), timestamp_seconds(col("_2")).as("ts"),
          col("_3").as("value"))
      val agg = StreamingIngest.aggregateStream(t, events, "hour",
        col("name"), col("ts"), col("value"))
      val qn = s"stream_hist_state_${values.distinct.size}"
      val q = agg.writeStream.format("memory").queryName(qn)
        .outputMode("complete").start()
      // two micro-batches so cross-batch state merge is exercised
      // all event times inside ONE minute window (hour interval has
      // minute resolution here) so each run holds exactly one group
      val rows = values.zipWithIndex.map { case (v, i) => ("h", T0 + 1 + (i % 50), v) }
      val (b1, b2) = rows.splitAt(rows.size / 2)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val (stateBytes, stateRows) = stateMetrics(q)
      val hist = spark.table(qn).select(explode(col("value")))
        .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
      q.stop()
      (stateBytes, stateRows, hist)
    }

    val n = 3000
    val (bytesA, rowsA, histA) = run(Seq.tabulate(n)(i => (i % 4).toDouble))
    val (bytesB, rowsB, histB) = run(Seq.tabulate(n)(i => i.toDouble))

    // one state row per (name, window) group in both runs
    assert(rowsA === 1L && rowsB === 1L)
    // correctness: counts fold exactly
    assert(histA === (0 until 4).map(v => v.toDouble -> (n / 4).toLong).toMap)
    assert(histB.size === n && histB.values.forall(_ === 1L))
    // the scaling claim: duplicate-heavy state is a small fraction of
    // all-distinct state at equal row counts (collect_list state would
    // make these equal)
    assert(bytesA * 4 < bytesB,
      s"histogram state not O(distinct): 4-distinct run $bytesA B vs $n-distinct run $bytesB B")
  }

  test("bucketElemCap bounds series/set stream state; capped fold is the order-smallest prefix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // one hot (name, window) bucket of 3000 rows, values arriving in
    // DESCENDING order (so the kept subset is never just "the first
    // rows seen"); cap=100. The capped run must (a) produce exactly
    // the order-smallest prefix of the uncapped fold and (b) hold a
    // small fraction of the uncapped run's state bytes — default
    // (None) stays the uncapped fold
    val n = 3000
    val cap = 100
    def run(st: SeriesType, c: Option[Int]): (Long, Seq[Double]) = {
      val t = new Timeseries(spark, st, minuteHour)
      val mem = MemoryStream[(String, Long, Double)]
      val events = mem.toDF()
        .select(col("_1").as("name"), timestamp_seconds(col("_2")).as("ts"),
          col("_3").as("value"))
      val agg = StreamingIngest.aggregateStream(t, events, "hour",
        col("name"), col("ts"), col("value"), bucketElemCap = c)
      val qn = s"stream_cap_${st.typeName}_${c.getOrElse(0)}"
      val q = agg.writeStream.format("memory").queryName(qn)
        .outputMode("complete").start()
      val rows = (0 until n).map(i => ("h", T0 + 1 + (i % 50), (n - 1 - i).toDouble))
      val (b1, b2) = rows.splitAt(n / 2)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val (bytes, _) = stateMetrics(q)
      val vals = spark.table(qn).select(explode(col("value")))
        .collect().map(_.getDouble(0)).toSeq
      q.stop()
      (bytes, vals)
    }

    for (st <- Seq(SeriesT: SeriesType, SetT)) {
      val (bytesFull, full) = run(st, None)
      val (bytesCap, capped) = run(st, Some(cap))
      assert(full.length === n, s"${st.typeName}: uncapped fold size")
      // both folds sort by the same (ord, value) / value total order,
      // so the capped result IS the uncapped result's prefix
      assert(capped === full.take(cap), s"${st.typeName}: capped prefix")
      assert(bytesCap * 4 < bytesFull,
        s"${st.typeName} state not capped: $bytesCap B vs uncapped $bytesFull B")
    }
  }

  test("facade streamAggregate == StreamingIngest.aggregateStream, incl. the cap knob") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // same events through both entry points (r13 verdict item 6: the
    // knob is part of the facade surface, not an internal-only path)
    def run(viaFacade: Boolean, c: Option[Int]): Seq[(String, Long, Seq[Double])] = {
      val t = new Timeseries(spark, SeriesT, minuteHour)
      val mem = MemoryStream[(String, Long, Double)]
      val events = mem.toDF()
        .select(col("_1").as("name"), timestamp_seconds(col("_2")).as("ts"),
          col("_3").as("value"))
      val agg =
        if (viaFacade) t.streamAggregate(events, "hour", col("name"),
          col("ts"), col("value"), bucketElemCap = c)
        else StreamingIngest.aggregateStream(t, events, "hour",
          col("name"), col("ts"), col("value"), bucketElemCap = c)
      val qn = s"stream_facade_${viaFacade}_${c.getOrElse(0)}"
      val q = agg.writeStream.format("memory").queryName(qn)
        .outputMode("complete").start()
      mem.addData((0 until 40).map(i => ("f", T0 + 1 + (i % 5), (40 - i).toDouble)): _*)
      q.processAllAvailable()
      val out = spark.table(qn)
        .select(col("name"), col("i_time"), col("value"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getSeq[Double](2).toSeq))
        .toSeq.sortBy(x => (x._1, x._2))
      q.stop()
      out
    }
    for (c <- Seq(None, Some(8): Option[Int]))
      assert(run(viaFacade = true, c) === run(viaFacade = false, c),
        s"facade and direct paths must agree at cap=$c")
  }

  test("watermark drops data later than the TTL horizon and finalizes state (append mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // minute interval, steps=5 → horizon 300s
    val t = new Timeseries(spark, CountT, minuteHour)
    val mem = MemoryStream[(String, Long, Double)]
    val events = mem.toDF()
      .select(col("_1").as("name"), timestamp_seconds(col("_2")).as("ts"), col("_3").as("value"))
    val agg = StreamingIngest.aggregateStream(t, events, "minute",
      col("name"), col("ts"), col("value"))
    val q = agg.writeStream.format("memory").queryName("stream_late")
      .outputMode("append").start()

    mem.addData(("l", T0 + 10L, 1.0))
    q.processAllAvailable()
    // advance the watermark far past T0's bucket (finalizes it in append mode)
    mem.addData(("l", T0 + 2000L, 5.0))
    q.processAllAvailable()
    // late row for the T0 bucket — older than watermark (2000 - 300) → dropped
    mem.addData(("l", T0 + 11L, 100.0))
    q.processAllAvailable()
    // close the second window too so the sink sees it
    mem.addData(("l", T0 + 4000L, 7.0))
    q.processAllAvailable()

    val got = spark.table("stream_late").select("i_time", "value")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    q.stop()
    assert(got(T0 / 60) === 1.0)          // late 100.0 did NOT land
    assert(got((T0 + 2000) / 60) === 5.0) // finalized after watermark passed
  }

  test("streaming exact dedup drops repeated content within the horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val mem = MemoryStream[(Long, Long, String)]
    val docs = mem.toDF()
      .select(col("_1").as("doc_id"), timestamp_seconds(col("_2")).as("ts"), col("_3").as("text"))
    val deduped = StreamingIngest.dedupStream(docs, col("ts"), col("text"), horizonSec = 3600)
    val q = deduped.writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()

    mem.addData((1L, T0 + 1, "alpha"), (2L, T0 + 2, "beta"), (3L, T0 + 3, "alpha"))
    q.processAllAvailable()
    // second batch: another duplicate of alpha plus fresh gamma
    mem.addData((4L, T0 + 10, "alpha"), (5L, T0 + 11, "gamma"))
    q.processAllAvailable()
    val kept = spark.table("stream_dedup").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    q.stop()
    assert(kept.map(_._2) === Set("alpha", "beta", "gamma"))
    assert(kept.count(_._2 == "alpha") === 1) // both later alphas dropped
  }

  test("gregorian monthly stream: day granules fold into calendar buckets like batch (SURVEY §8.5)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // calendar months can't be fixed-width windows, so the stream
    // aggregates at whole-day granularity (the documented deviation);
    // the store/read side folds day granules into the month bucket
    // with the SAME monoid merge batch condense uses — proven here
    // against the batch engine over a two-month fixture
    val monthly = Map("monthly" -> IntervalSpec(TimeStep("monthly")))
    def sec(d: java.time.LocalDateTime): Long = d.toEpochSecond(java.time.ZoneOffset.UTC)
    import java.time.LocalDateTime.of
    val fixture = Seq(
      ("m", sec(of(2024, 1, 29, 10, 0)), 1.0),
      ("m", sec(of(2024, 1, 30, 11, 0)), 2.0),
      ("m", sec(of(2024, 1, 30, 23, 59)), 3.0),
      ("m", sec(of(2024, 2, 1, 0, 1)), 5.0),
      ("m", sec(of(2024, 2, 2, 9, 0)), 7.0))

    for (st <- Seq[SeriesType](CountT, HistogramT)) {
      val t = new Timeseries(spark, st, monthly)
      val mem = MemoryStream[(String, Long, Double)]
      val events = mem.toDF()
        .select(col("_1").as("name"), timestamp_seconds(col("_2")).as("ts"), col("_3").as("value"))
      val agg = StreamingIngest.aggregateStream(t, events, "monthly",
        col("name"), col("ts"), col("value"))
      val qn = s"stream_greg_${st.typeName}"
      val q = agg.writeStream.format("memory").queryName(qn)
        .outputMode("complete").start()
      mem.addData(fixture.take(3): _*); q.processAllAvailable()
      mem.addData(fixture.drop(3): _*); q.processAllAvailable()

      val granules = spark.table(qn)
      assert(granules.count() >= 4, "must emit one granule per extant day")
      def canon(c: org.apache.spark.sql.Column) =
        if (st == HistogramT) array_sort(map_entries(c)).cast(StringType) else c.cast(StringType)
      val folded = granules.groupBy("name", "i_time")
        .agg(st.mergeExpr(collect_list(col("value"))).as("value"))
        .select(col("i_time"), canon(col("value")))
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      q.stop()

      val bt = new Timeseries(spark, st, monthly)
      for ((n, ts, v) <- fixture) bt.insert(n, v, ts.toDouble)
      val prepared = bt.log.filter(col("interval") === "monthly")
        .select(col("name"), col("i_time"),
          struct(col("r_time"), col("seq")).as("ord"), col("value"))
      val batch = st.aggregate(prepared, Seq("name", "i_time"))
        .select(col("i_time"), canon(col("value")))
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(folded.keySet === batch.keySet && folded === batch, s"type ${st.typeName}")
    }
  }

  test("streamed vectors append to a persisted IVF index and are immediately queryable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfstream").toString
    graft.ops.Similarity.buildIvfIndex(emb.filter(col("vec_id") < n / 2),
      s"$dir/ivf", nlist = 16)

    val late = emb.filter(col("vec_id") >= n / 2)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val mem = MemoryStream[(Long, Array[Float])]
    val vectors = mem.toDF()
      .select(col("_1").as("vec_id"), col("_2").as("embedding"))
    val q = StreamingIngest.appendStreamToIvfIndex(vectors, s"$dir/ivf", s"$dir/ckpt")
    mem.addData(late.take(3).toSeq: _*); q.processAllAvailable()
    mem.addData(late.drop(3).toSeq: _*); q.processAllAvailable()
    q.stop()

    val lists = spark.read.parquet(s"$dir/ivf/lists")
    assert(lists.count() === n, "every vector exactly once after the streamed appends")
    // a streamed vector finds itself through the pruned index read
    val probes = emb.filter(col("vec_id") >= n / 2 && col("vec_id") < n / 2 + 3)
    val self = graft.ops.Similarity.ivfTopKIndexed(spark, s"$dir/ivf", probes,
      k = 1, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(self.length === 3 && self.forall { case (qid, v, s) => qid == v && s >= 0.9999 })
  }

  test("append-to-store streaming ingest replays through the batch reader") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val t = new Timeseries(spark, CountT, minuteHour)
    val mem = MemoryStream[(String, Long, Double)]
    val events = mem.toDF()
      .select(col("_1").as("name"), timestamp_seconds(col("_2")).as("ts"), col("_3").as("value"))
    val q = StreamingIngest.appendToStore(t, events,
      col("name"), col("ts"), col("value"), unix_micros(col("ts")),
      s"$dir/store", s"$dir/ckpt")
    mem.addData(("s", T0 + 1, 1.0), ("s", T0 + 61, 2.0), ("s", T0 + 121, 3.0))
    q.processAllAvailable()
    q.stop()

    val reader = new Timeseries(spark, CountT, minuteHour)
    reader.load(s"$dir/store")
    val got = reader.series(Seq("s"), "minute", start = Some((T0).toDouble), steps = Some(3))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got === Map(T0 -> 1.0, (T0 + 60) -> 2.0, (T0 + 120) -> 3.0))
  }

  test("streamed docs append to a persisted search index and are queryable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = java.nio.file.Files.createTempDirectory("graft_bm25stream").toString
    val base = (0L until 40L).map(i => (i, s"alpha beta w$i"))
      .toDF("doc_id", "text")
    graft.ops.Search.buildIndex(base, col("text"), col("doc_id"), s"$dir/idx")

    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = StreamingIngest.appendStreamToSearchIndex(docs, s"$dir/idx",
      s"$dir/ckpt", col("text"), col("doc_id"))
    mem.addData((100L, "zebra quokka alpha"), (101L, "zebra zebra"))
    q.processAllAvailable()
    q.stop()

    // streamed-only term resolves through the index; stats see 42 docs
    val hits = graft.ops.Search.bm25TopKIndexed(spark, s"$dir/idx",
      "zebra", 10).collect().map(_.getLong(0)).toSeq
    assert(hits === Seq(101L, 100L)) // tf 2 outranks tf 1
    val n = spark.read.parquet(s"$dir/idx/stats").head().getLong(0)
    assert(n === 42L)
  }

  test("streaming funnel folds exactly like batch, incl. cross-batch disorder") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val mem = MemoryStream[(Long, Long, Long, String)]
    val events = mem.toDF().select(col("_1").as("u"),
      timestamp_seconds(col("_2")).as("ts"), col("_3").as("id"),
      col("_4").as("step"))
    val steps = Seq("view", "click", "purchase")
    val q = StreamingIngest.funnelStream(events, col("u"), col("ts"),
        col("id"), col("step"), steps, horizonSec = 1000)
      .writeStream.format("memory").queryName("stream_funnel")
      .outputMode("append").start()

    // u=1 completes in order; u=2's view arrives a BATCH AFTER its
    // purchase (cross-batch disorder within the watermark) — buffering
    // makes it count exactly as batch would
    mem.addData((1L, T0 + 10, 1L, "view"), (1L, T0 + 20, 2L, "click"),
      (2L, T0 + 40, 3L, "purchase"))
    q.processAllAvailable()
    mem.addData((1L, T0 + 30, 4L, "purchase"), (2L, T0 + 5, 5L, "view"))
    q.processAllAvailable()
    // two watermark pushes: first lets timeouts compute, second fires them
    mem.addData((9L, T0 + 50000, 6L, "view"))
    q.processAllAvailable()
    mem.addData((9L, T0 + 90000, 7L, "view"))
    q.processAllAvailable()
    val got = spark.table("stream_funnel")
      .collect().map(r => r.getLong(0) ->
        ((1 to 3).map(i => if (r.isNullAt(i)) -1L else r.getLong(i)),
          r.getInt(4))).toMap
    q.stop()

    assert(got(1L) === ((Seq(T0 + 10, T0 + 20, T0 + 30), 3)))
    // u=2: view@T0+5 (late-arriving) reached; purchase@T0+40 does NOT
    // count (no click ever) → depth 1
    assert(got(2L) === ((Seq(T0 + 5, -1L, -1L), 1)))

    // batch parity on the same rows
    val batch = Seq((1L, T0 + 10, 1L, "view"), (1L, T0 + 20, 2L, "click"),
      (2L, T0 + 40, 3L, "purchase"), (1L, T0 + 30, 4L, "purchase"),
      (2L, T0 + 5, 5L, "view")).toDF("u", "t", "id", "step")
    val bt = graft.ops.Sessions.funnel(batch, Seq("u"), "t", col("step"),
        steps, tieBreak = Some("id"))
      .collect().map(r => r.getLong(0) ->
        ((1 to 3).map(i => if (r.isNullAt(i)) -1L else r.getLong(i)),
          r.getInt(4))).toMap
    assert(bt(1L) === got(1L) && bt(2L) === got(2L))
  }

  test("streaming sessions close on watermark and match batch off-boundary") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val mem = MemoryStream[(String, Long, Double)]
    val events = mem.toDF().select(col("_1").as("u"),
      timestamp_seconds(col("_2")).as("ts"), col("_3").as("v"))
    val sess = StreamingIngest.sessionStream(events, Seq("u"), col("ts"),
      col("v"), gapSec = 100, horizonSec = 1000)
    val q = sess.writeStream.format("memory").queryName("stream_sessions")
      .outputMode("append").start()

    // a: gaps 50, 70 (< gap) → one session; b: gap EXACTLY 100 —
    // session_window merges touching windows, same boundary as batch
    mem.addData(("a", T0, 1.0), ("a", T0 + 50, 2.0), ("a", T0 + 120, 3.0),
      ("b", T0, 1.0), ("b", T0 + 100, 1.0))
    q.processAllAvailable()
    // push the watermark past end+gap so the early sessions finalize
    mem.addData(("a", T0 + 5000, 9.0))
    q.processAllAvailable()
    mem.addData(("a", T0 + 20000, 1.0))
    q.processAllAvailable()

    val closed = spark.table("stream_sessions")
      .filter(col("session_start") < timestamp_seconds(lit(T0 + 1000)))
      .select(col("u"), unix_timestamp(col("session_start")).as("s"),
        unix_timestamp(col("session_end")).as("e"), col("n_events"),
        col("total_value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    q.stop()

    assert(closed === Set(
      ("a", T0, T0 + 220, 3L, 6.0),     // merged across gaps, end = last+gap
      ("b", T0, T0 + 200, 2L, 2.0)))    // exact-gap event EXTENDS the session

    // batch operator agrees at the boundary: gap == gapSec stays ONE
    // session on both engines
    val bBatch = Seq(("b", T0, 1L), ("b", T0 + 100, 2L)).toDF("u", "t", "id")
    val idx = graft.ops.Sessions.sessionize(bBatch, Seq("u"), "t",
        gapSec = 100, tieBreak = Some("id"))
      .agg(max("session_idx")).head().getLong(0)
    assert(idx === 1L)
  }

  test("anomalyStream verdicts equal the batch operator over the same closed buckets") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val store = java.nio.file.Files.createTempDirectory("an_store").toString + "/log"
    val out = java.nio.file.Files.createTempDirectory("an_out").toString + "/scores"
    val ckpt = java.nio.file.Files.createTempDirectory("an_ck").toString

    val mem = MemoryStream[(String, Long, Double)]
    val events = mem.toDF()
      .select(col("_1").as("name"), timestamp_seconds(col("_2")).as("ts"),
        col("_3").as("value"))
    val q = StreamingIngest.anomalyStream(events, col("name"), col("ts"),
      col("value"), stepSec = 60L, lateSec = 30L, window = 5,
      threshold = 3.0, store, out, ckpt)

    // 10 minutes of alternating 1/2-event baseline, then a 50x spike,
    // split across micro-batches; a far-future flush closes everything
    val baseline = (0 until 10).flatMap { m =>
      Seq(("cpu", T0 + m * 60, 1.0)) ++
        (if (m % 2 == 1) Seq(("cpu", T0 + m * 60 + 5, 1.0)) else Nil)
    }
    mem.addData(baseline.take(8): _*); q.processAllAvailable()
    mem.addData(baseline.drop(8): _*); q.processAllAvailable()
    mem.addData(("cpu", T0 + 600, 50.0)); q.processAllAvailable()
    mem.addData(("cpu", T0 + 7200, 1.0)); q.processAllAvailable() // flush
    q.stop()

    val streamed = spark.read.parquet(out)
      .select("name", "i_time", "value", "z", "is_anomaly")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          r.getBoolean(4)))).toMap

    // batch twin over the SAME closed buckets (everything before the flush)
    val closed = streamed.keys.map(_._2).toSeq.sorted
    val batchBuckets = baseline.++(Seq(("cpu", T0 + 600, 50.0)))
      .groupBy(e => e._2 / 60 * 60).map { case (b, es) => ("cpu", b, es.map(_._3).sum) }
      .toSeq.toDF("name", "i_time", "value")
    val batch = graft.ops.Features.zscoreAnomaly(batchBuckets, Seq("name"),
        "i_time", col("value"), nRows = 5, threshold = 3.0)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), if (r.isNullAt(5)) None else Some(r.getDouble(5)),
          r.getBoolean(6)))).toMap

    assert(streamed.keySet === batch.keySet, "same closed buckets scored")
    streamed.foreach { case (k, (v, z, flag)) =>
      val (bv, bz, bflag) = batch(k)
      assert(v === bv, s"$k value")
      assert(z === bz, s"$k z")
      assert(flag === bflag, s"$k verdict")
    }
    // and the spike DID flag
    assert(streamed(("cpu", T0 + 600))._3, "spike must flag")
  }

  test("appendStreamToPackLayout: streamed layout equals sequential batch appends") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val L = 128
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).toDF("doc_id")
      .withColumn("n", (col("doc_id") % 97 + 1).cast("long"))
    val pathA = java.nio.file.Files.createTempDirectory("pack_stream").toString
    val pathB = java.nio.file.Files.createTempDirectory("pack_batch").toString
    graft.ops.Pack.buildGreedyLayout(mk(1000, 1500), col("doc_id"), col("n"),
      pathA, L, shards = 8)
    graft.ops.Pack.buildGreedyLayout(mk(1000, 1500), col("doc_id"), col("n"),
      pathB, L, shards = 8)

    val ckpt = java.nio.file.Files.createTempDirectory("pack_ck").toString
    val mem = MemoryStream[Long]
    val stream = mem.toDF().select(col("value").as("doc_id"))
      .withColumn("n", (col("doc_id") % 97 + 1).cast("long"))
    val q = StreamingIngest.appendStreamToPackLayout(stream, pathA, ckpt,
      col("doc_id"), col("n"))
    mem.addData(0L until 250L: _*); q.processAllAvailable()
    mem.addData(250L until 500L: _*); q.processAllAvailable()
    q.stop()

    graft.ops.Pack.appendToGreedyLayout(spark, pathB, mk(0, 250),
      col("doc_id"), col("n"))
    graft.ops.Pack.appendToGreedyLayout(spark, pathB, mk(250, 500),
      col("doc_id"), col("n"))

    def sig(p: String) = spark.read.parquet(p + "/layout")
      .select(col("doc_id"), col("shard").cast("long"), col("bin"),
        col("n_tokens"))
      .collect().map(_.toSeq).toSet
    assert(sig(pathA) === sig(pathB),
      "streamed folds must equal the same batch folds")
  }

  test("checkpointed CMS stream killed between batches recovers to the uninterrupted grid") {
    // the crash-recovery proof the replay tests don't give: stop a
    // checkpointLocation-backed query between micro-batches (process
    // death), deliver more data while it is down, RESTART a fresh
    // query object from the same checkpoint, and require the final
    // additive store to equal an uninterrupted run cell-for-cell —
    // exactly-once across the restart, not just within one query
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def tmpDir(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val data1 = (0L until 400L).map(i => s"tok${i % 7} tok${i % 3} x$i")
    val data2 = (400L until 800L).map(i => s"tok${i % 5} alpha beta")
    def toks(df: org.apache.spark.sql.DataFrame) =
      df.select(explode(split(col("value"), " ")).as("token"))
    def grid(out: String) = graft.ops.Sketch.countMinLoad(spark, out)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(x => (x._1, x._2))

    // run A: uninterrupted
    val memA = MemoryStream[String]
    val outA = tmpDir("cms_crash_a"); val ckA = tmpDir("cms_crash_a_ck")
    val qA = graft.streaming.StreamingIngest.sketchStreamCountMin(
      toks(memA.toDF()), outA, ckA, col("token"), depth = 4, width = 256L,
      seed = 7L)
    memA.addData(data1: _*); qA.processAllAvailable()
    memA.addData(data2: _*); qA.processAllAvailable()
    qA.stop()

    // run B: killed after batch 1, data arrives while down, restarted
    val memB = MemoryStream[String]
    val outB = tmpDir("cms_crash_b"); val ckB = tmpDir("cms_crash_b_ck")
    val qB1 = graft.streaming.StreamingIngest.sketchStreamCountMin(
      toks(memB.toDF()), outB, ckB, col("token"), depth = 4, width = 256L,
      seed = 7L)
    memB.addData(data1: _*); qB1.processAllAvailable()
    qB1.stop() // the "crash": no more micro-batches from this query
    memB.addData(data2: _*) // lands while the query is down
    val qB2 = graft.streaming.StreamingIngest.sketchStreamCountMin(
      toks(memB.toDF()), outB, ckB, col("token"), depth = 4, width = 256L,
      seed = 7L)
    qB2.processAllAvailable()
    qB2.stop()

    assert(grid(outB).nonEmpty && grid(outB) === grid(outA),
      "restart from checkpoint must neither lose nor double-count batch 2")
  }

  test("checkpointed pack-layout stream killed between batches recovers to the uninterrupted layout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val L = 128
    def tmpDir(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    def withN(df: org.apache.spark.sql.DataFrame) = df
      .select(col("value").as("doc_id"))
      .withColumn("n", (col("doc_id") % 97 + 1).cast("long"))
    def seed(p: String): Unit =
      graft.ops.Pack.buildGreedyLayout(
        spark.range(1000, 1400).toDF("doc_id")
          .withColumn("n", (col("doc_id") % 97 + 1).cast("long")),
        col("doc_id"), col("n"), p, L, shards = 8)
    def sig(p: String) = spark.read.parquet(p + "/layout")
      .select(col("doc_id"), col("shard").cast("long"), col("bin"),
        col("n_tokens"))
      .collect().map(_.toSeq).toSet

    val pathA = tmpDir("pack_crash_a"); seed(pathA)
    val memA = MemoryStream[Long]
    val qA = graft.streaming.StreamingIngest.appendStreamToPackLayout(
      withN(memA.toDF()), pathA, tmpDir("pack_crash_a_ck"),
      col("doc_id"), col("n"))
    memA.addData(0L until 250L: _*); qA.processAllAvailable()
    memA.addData(250L until 500L: _*); qA.processAllAvailable()
    qA.stop()

    val pathB = tmpDir("pack_crash_b"); seed(pathB)
    val ckB = tmpDir("pack_crash_b_ck")
    val memB = MemoryStream[Long]
    val qB1 = graft.streaming.StreamingIngest.appendStreamToPackLayout(
      withN(memB.toDF()), pathB, ckB, col("doc_id"), col("n"))
    memB.addData(0L until 250L: _*); qB1.processAllAvailable()
    qB1.stop() // crash between micro-batches
    memB.addData(250L until 500L: _*)
    val qB2 = graft.streaming.StreamingIngest.appendStreamToPackLayout(
      withN(memB.toDF()), pathB, ckB, col("doc_id"), col("n"))
    qB2.processAllAvailable()
    qB2.stop()

    assert(sig(pathB) === sig(pathA),
      "restarted appender must produce the uninterrupted layout exactly")
  }

  test("anomalyStream bucket log is idempotent under batch replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val store = java.nio.file.Files.createTempDirectory("an_rp_store").toString + "/log"
    val out = java.nio.file.Files.createTempDirectory("an_rp_out").toString + "/scores"

    // two stream incarnations over the SAME data sharing one store but
    // each with a FRESH checkpoint: the second replays every batch —
    // the worst-case at-least-once restart
    def runOnce(): Unit = {
      val ckpt = java.nio.file.Files.createTempDirectory("an_rp_ck").toString
      val mem = MemoryStream[(String, Long, Double)]
      val events = mem.toDF()
        .select(col("_1").as("name"), timestamp_seconds(col("_2")).as("ts"),
          col("_3").as("value"))
      val q = StreamingIngest.anomalyStream(events, col("name"), col("ts"),
        col("value"), stepSec = 60L, lateSec = 30L, window = 3,
        threshold = 3.0, store, out, ckpt)
      (0 until 6).foreach(m => mem.addData(("cpu", T0 + m * 60, 1.0 + m % 2)))
      q.processAllAvailable()
      mem.addData(("cpu", T0 + 7200, 1.0)); q.processAllAvailable() // flush
      q.stop()
    }
    runOnce(); runOnce()

    // the anti-join kept the log exact: one row per closed bucket
    val log = spark.read.parquet(store)
    assert(log.count() === log.select("name", "i_time").distinct().count(),
      "replayed batches must not duplicate bucket-log rows")
    // and the replayed incarnation, scoring against the deduped
    // history, reproduced the SAME verdicts (sink rows differ only in
    // multiplicity, never in content)
    val scored = spark.read.parquet(out)
      .select("name", "i_time", "value", "z", "is_anomaly")
    assert(scored.distinct().count() ===
      scored.select("name", "i_time").distinct().count(),
      "replay must reproduce identical verdicts per bucket")
  }

  test("curateStream: verdicts equal batch ledger; replay changes nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val goodEn =
      "the quick brown fox jumps over a lazy dog and then it runs down to " +
      "the wide river with great speed because that is what young foxes do " +
      "in the early morning when light spreads across the quiet valley and " +
      "birds begin to call from tall trees near the old stone bridge while " +
      "farmers walk out to their green fields carrying baskets of fresh " +
      "seed for the long day of honest work ahead of them all"
    val goodEn2 = goodEn.replace("fox", "wolf").replace("river", "stream")
    val goodEn3 = goodEn.replace("morning", "evening").replace("quick", "calm")
    val german =
      "der alte hund und die junge katze sind mit dem kind von dem haus zu " +
      "dem garten gegangen und das wetter ist heute sehr gut weil die sonne " +
      "mit voller kraft von dem blauen himmel scheint und der wind ist " +
      "ruhig und das gras ist weich und die kinder spielen mit dem ball"
    val batch1 = Seq(
      (1L, goodEn), (2L, "1234 5678 9999 @@@@ #### 0000"),
      (3L, german), (4L, goodEn2))
    val batch2 = Seq(
      (5L, goodEn),   // cross-batch exact dup of 1
      (6L, goodEn2),  // cross-batch exact dup of 4
      (7L, goodEn3),  // fresh → kept
      (8L, goodEn3))  // in-batch exact dup of 7

    val dir = java.nio.file.Files.createTempDirectory("graft_curstream").toString
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = StreamingIngest.curateStream(docs, s"$dir/fp", s"$dir/ledger",
      s"$dir/ckpt", col("text"), col("doc_id"))
    mem.addData(batch1: _*); q.processAllAvailable()
    mem.addData(batch2: _*); q.processAllAvailable()
    q.stop()

    def stages(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.select("doc_id", "stage").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val streamed = stages(spark.read.parquet(s"$dir/ledger"))
    // ids arrive in id order, so first-arrival-keeps == batch's
    // min-id-keeps and the two ledgers agree exactly
    val batch = stages(graft.ops.Curate.ledger(
      (batch1 ++ batch2).toDF("doc_id", "text"), col("text"), col("doc_id")))
    assert(streamed === batch)
    assert(streamed(5L) === "exact_dup" && streamed(8L) === "exact_dup")
    assert(streamed(1L) === "kept" && streamed(7L) === "kept")

    // worst-case replay: re-run batch2 through the per-batch body —
    // sink row set unchanged, including the would-be self-collision
    // verdicts (discarded by the doc_id anti-join)
    graft.ops.Curate.appendCuratedAgainst(spark, s"$dir/fp", s"$dir/ledger",
      batch2.toDF("doc_id", "text"), col("text"), col("doc_id"))
    assert(stages(spark.read.parquet(s"$dir/ledger")) === batch)
    assert(spark.read.parquet(s"$dir/ledger").count() === 8L)

    // re-delivered id with CHANGED text: the sink keeps the first
    // delivery's verdict AND the new fingerprint is not claimed — the
    // store only holds fps whose verdicts the ledger recorded
    val fpCount = spark.read.parquet(s"$dir/fp").count()
    graft.ops.Curate.appendCuratedAgainst(spark, s"$dir/fp", s"$dir/ledger",
      Seq((7L, goodEn.replace("valley", "canyon"))).toDF("doc_id", "text"),
      col("text"), col("doc_id"))
    assert(stages(spark.read.parquet(s"$dir/ledger")) === batch)
    assert(spark.read.parquet(s"$dir/fp").count() === fpCount)

    // the streaming perplexity ceiling against STORED stats: the
    // corpus-atypical doc drops at the LM stage, the typical one keeps
    val ref = (0L until 30L).map(i =>
      (i, s"the quick fox w$i jumps over the lazy dog")).toDF("doc_id", "text")
    graft.ops.LangModel.buildBigramStats(ref, col("text"), col("doc_id"),
      s"$dir/stats")
    val probe = Seq((100L, "the quick fox jumps"), (101L, "zebra quokka axolotl"))
    val nll = graft.ops.LangModel.scoreBigramAgainst(spark, s"$dir/stats",
        probe.toDF("doc_id", "text"), col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val cfg = graft.ops.Curate.Config(minQuality = 0.0,
      maxTop2CharFrac = 1.0, langs = Seq("en", "und"),
      maxNll = Some((nll(100L) + nll(101L)) / 2),
      lmStatsPath = Some(s"$dir/stats"))
    graft.ops.Curate.appendCuratedAgainst(spark, s"$dir/fp2", s"$dir/ledger2",
      probe.toDF("doc_id", "text"), col("text"), col("doc_id"), cfg)
    val lm = stages(spark.read.parquet(s"$dir/ledger2"))
    assert(lm === Map(100L -> "kept", 101L -> "perplexity"))
  }

  test("streamed train docs extend the decontamination gram index like batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = java.nio.file.Files.createTempDirectory("graft_decontstream").toString
    val train = (0L until 40L).map(i =>
      (i, s"alpha beta gamma d$i delta epsilon zeta eta")).toDF("doc_id", "text")
    val (seed, late) = (train.filter(col("doc_id") < 20),
      train.filter(col("doc_id") >= 20))
    graft.ops.Decontaminate.buildTrainIndex(seed, col("text"), n = 3,
      s"$dir/idx")

    val lateRows = late.collect().map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = StreamingIngest.appendStreamToTrainIndex(docs, s"$dir/idx",
      s"$dir/ckpt", col("text"), n = 3)
    mem.addData(lateRows.take(10).toSeq: _*); q.processAllAvailable()
    mem.addData(lateRows.drop(10).toSeq: _*); q.processAllAvailable()
    q.stop()

    // the streamed index scores an eval set exactly like a batch-built
    // index over the full train corpus
    val test = Seq((100L, "alpha beta gamma d25 delta"), // d25 arrived via stream
      (101L, "nothing shared here at all x y z")).toDF("doc_id", "text")
    def score(path: String) =
      graft.ops.Decontaminate.contaminationIndexed(spark, path, test,
          col("text"), col("doc_id"), n = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    graft.ops.Decontaminate.buildTrainIndex(train, col("text"), n = 3,
      s"$dir/batch")
    assert(score(s"$dir/idx") === score(s"$dir/batch"))
    // store stays DISTINCT under replay (the same anti-join is the
    // idempotency mechanism), so scoring never double-counts
    val before = spark.read.parquet(s"$dir/idx").count()
    graft.ops.Decontaminate.appendToTrainIndex(spark, s"$dir/idx",
      late, col("text"), n = 3)
    assert(spark.read.parquet(s"$dir/idx").count() === before)
  }

  test("streamed vectors extend the cosine near-dup index and stay idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    val dir = java.nio.file.Files.createTempDirectory("graft_cosstream").toString
    graft.ops.Similarity.buildCosineIndex(emb.filter(col("vec_id") < n / 2),
      col("vec_id"), col("embedding"), s"$dir/idx")

    val late = emb.filter(col("vec_id") >= n / 2)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val mem = MemoryStream[(Long, Array[Float])]
    val vectors = mem.toDF()
      .select(col("_1").as("vec_id"), col("_2").as("embedding"))
    val q = StreamingIngest.appendStreamToCosineIndex(vectors, s"$dir/idx",
      s"$dir/ckpt", col("vec_id"), col("embedding"))
    mem.addData(late.take(3).toSeq: _*); q.processAllAvailable()
    mem.addData(late.drop(3).toSeq: _*); q.processAllAvailable()
    q.stop()

    val stored = spark.read.parquet(s"$dir/idx/docs")
    assert(stored.count() === n, "every vector exactly once after the stream")
    assert(stored.select("vec_id").distinct().count() === n)
  }

  test("vectorGateStream admits one representative per duplicate group") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def basis(d: Int): Array[Float] =
      Array.tabulate(8)(i => if (i == d) 1.0f else 0.0f)
    val dir = java.nio.file.Files.createTempDirectory("graft_vgate").toString
    val stored = Seq((0L, basis(0)), (1L, basis(1)), (2L, basis(2)))
      .toDF("vec_id", "embedding")
    graft.ops.Similarity.buildCosineIndex(stored, col("vec_id"),
      col("embedding"), s"$dir/idx", planes = 4, dims = 8, tables = 4)

    val mem = MemoryStream[(Long, Array[Float])]
    val vectors = mem.toDF()
      .select(col("_1").as("vec_id"), col("_2").as("embedding"))
    val q = StreamingIngest.vectorGateStream(vectors, s"$dir/idx",
      s"$dir/verdicts", s"$dir/ckpt", col("vec_id"), col("embedding"),
      threshold = 0.95)
    // batch 1: a copy of stored 0 (dup) and a genuinely new direction
    mem.addData((100L, basis(0)), (101L, basis(3)))
    q.processAllAvailable()
    // batch 2: an all-new duplicate pair (102 admits, 103 rejected)
    // and a copy of stored 1
    mem.addData((102L, basis(4)), (103L, basis(4)), (104L, basis(1)))
    q.processAllAvailable()
    q.stop()

    val verdicts = spark.read.parquet(s"$dir/verdicts")
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1L else r.getLong(1)), r.getLong(2))).toMap
    assert(verdicts === Map(
      100L -> (0L, 1L), 101L -> (-1L, 0L), 102L -> (-1L, 0L),
      103L -> (102L, 1L), 104L -> (1L, 1L)))
    val admitted = spark.read.parquet(s"$dir/idx/docs")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(admitted === Set(0L, 1L, 2L, 101L, 102L))

    // worst-case replay of batch 2 straight through the body: neither
    // the ledger nor the index may change
    graft.ops.Similarity.appendGatedToCosineIndex(spark, s"$dir/idx",
      s"$dir/verdicts",
      Seq((102L, basis(4)), (103L, basis(4)), (104L, basis(1)))
        .toDF("vec_id", "embedding"),
      col("vec_id"), col("embedding"), threshold = 0.95)
    assert(spark.read.parquet(s"$dir/verdicts").count() === 5L)
    assert(spark.read.parquet(s"$dir/idx/docs").count() === 5L)
  }

  test("streaming DSIR scoring equals batch scoring and is replay-idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = java.nio.file.Files.createTempDirectory("graft_dsirstream").toString
    val ref = (0L until 24L).map { i =>
      val reg = if (i % 3 == 0) "alpha beta gamma delta" else "kappa sigma omega zeta"
      (i, i % 3 == 0, s"$reg doc w$i")
    }.toDF("doc_id", "is_t", "text")
    graft.ops.Dsir.buildStats(ref, col("text"), col("doc_id"),
      col("is_t"), s"$dir/stats")

    val arrivals = Seq((100L, "alpha beta gamma"), (101L, "kappa sigma omega"),
      (102L, "totally unseen words"))
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = StreamingIngest.scoreStreamAgainstDsirStats(docs,
      s"$dir/stats", s"$dir/scores", s"$dir/ckpt", col("text"), col("doc_id"))
    mem.addData(arrivals.take(1): _*); q.processAllAvailable()
    mem.addData(arrivals.drop(1): _*); q.processAllAvailable()
    q.stop()

    val streamed = spark.read.parquet(s"$dir/scores")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    val batch = graft.ops.Dsir.logWeightsAgainst(spark, s"$dir/stats",
        arrivals.toDF("doc_id", "text"), col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(streamed === batch, "streamed weights must equal the batch operator")
    assert(streamed(100L)._2 > 0 && streamed(101L)._2 < 0,
      "target-register doc scores positive, raw-register negative")

    graft.ops.Dsir.appendScoredAgainst(spark, s"$dir/stats", s"$dir/scores",
      arrivals.toDF("doc_id", "text"), col("text"), col("doc_id"))
    assert(spark.read.parquet(s"$dir/scores").count() === 3L,
      "replayed batches must append nothing")
  }

  test("streaming bigram scoring equals batch scoring and is replay-idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = java.nio.file.Files.createTempDirectory("graft_lmstream").toString
    // trusted reference corpus: repeated common transitions plus a few
    // rare ones, so scores spread
    val ref = (0L until 30L).map(i =>
      (i, s"the quick fox w$i jumps over the lazy dog")).toDF("doc_id", "text")
    graft.ops.LangModel.buildBigramStats(ref, col("text"), col("doc_id"),
      s"$dir/stats")

    // the scored stream: in-vocabulary, out-of-vocabulary, and a
    // sub-2-token doc (no bigrams — must emit nothing, as in batch)
    val arrivals = Seq(
      (100L, "the quick fox jumps"), (101L, "zebra quokka axolotl"),
      (102L, "the lazy dog"), (103L, "single"))
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = StreamingIngest.scoreStreamAgainstBigramStats(docs,
      s"$dir/stats", s"$dir/scores", s"$dir/ckpt", col("text"), col("doc_id"))
    mem.addData(arrivals.take(2): _*); q.processAllAvailable()
    mem.addData(arrivals.drop(2): _*); q.processAllAvailable()
    q.stop()

    val streamed = spark.read.parquet(s"$dir/scores")
      .collect().map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("nll")))).toMap
    val batch = graft.ops.LangModel.scoreBigramAgainst(spark, s"$dir/stats",
        arrivals.toDF("doc_id", "text"), col("text"), col("doc_id"))
      .collect().map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("nll")))).toMap
    assert(streamed === batch, "streamed scores must equal the batch operator")
    assert(!streamed.contains(103L), "a bigram-less doc emits no score")
    // OOV text is finite-scored (add-k floor), and costlier than in-vocab
    assert(streamed(101L)._2 > streamed(100L)._2)

    // worst-case at-least-once restart: re-append the whole stream's
    // batches directly through the per-batch body — the sink must not
    // grow and scores must not change
    graft.ops.LangModel.appendScoredAgainst(spark, s"$dir/stats",
      s"$dir/scores", arrivals.toDF("doc_id", "text"), col("text"),
      col("doc_id"))
    val replayed = spark.read.parquet(s"$dir/scores")
      .collect().map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("nll")))).toMap
    assert(spark.read.parquet(s"$dir/scores").count() === 3L,
      "replayed batches must append nothing")
    assert(replayed === batch)
  }
  test("streamed colloc count batches converge to the batch-union counts") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val base = Seq((1L, "a b c a b")).toDF("doc_id", "text")
    val incs = Seq((2L, "b c d"), (3L, "a b a b"))
    val dir = java.nio.file.Files.createTempDirectory("collocStream").toString
    val store = dir + "/counts"
    graft.ops.Colloc.buildCountsStore(base, col("text"), 2, store)
    val mem = MemoryStream[(Long, String)]
    val sdf = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = StreamingIngest.appendStreamToCollocCounts(sdf, store,
      dir + "/ck", col("text"), window = 2)
    incs.foreach { r => mem.addData(r); q.processAllAvailable() }
    q.stop()
    val streamed = graft.ops.Colloc.readCounts(spark, store)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val batch = graft.ops.Colloc.pairCounts(
        base.unionAll(incs.toDF("doc_id", "text")), col("text"), 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(streamed === batch)
  }
}
