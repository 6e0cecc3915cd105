package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, TempDirs, Timeseries}
import graft.model._
import graft.ops.{Classify, Dedup, Sketch, Snapshot, Urls}
import graft.queries.Oracle.Sql
import graft.streaming.StreamingIngest
import graft.time._

/** Driver-oracled streaming queries (r6 verdict item 4): each one
  * drives a DETERMINISTIC bounded event/document subset through the
  * [[StreamingIngest]] surface as a real Structured Streaming query
  * (MemoryStream source, multiple micro-batches, watermarked state,
  * memory/parquet/foreachBatch sinks), then returns the resulting
  * store as a DataFrame whose DuckDB oracle is the batch-twin SQL over
  * the SAME subset — reference semantics kairos timeseries.py:87-133
  * (bucket folds + TTL horizon) verified through the streaming engine,
  * not just ScalaTest.
  *
  * Harness shape, by design: the bounded `.orderBy(id).limit(n)`
  * collect exists ONLY to feed MemoryStream deterministically (a
  * replayable in-test source needs driver-held rows — same pattern as
  * Spark's own streaming tests); production streams read Kafka/files
  * through the identical [[StreamingIngest]] entry points with no
  * driver materialization anywhere. The horizon passed to each query
  * exceeds the subset's time span, so watermarks advance but drop
  * nothing — the final state is batch-equivalent regardless of
  * micro-batch arrival order, which is what makes a hash-stable oracle
  * possible.
  */
object StreamQueries {

  private val qid = new java.util.concurrent.atomic.AtomicInteger(0)
  private def tmp(prefix: String): String = TempDirs.create(prefix).toString

  /** Per-JVM memo of the DETERMINISTIC driver-side stream fixtures
    * (event/document subsets, the once-fit NB model path). Same
    * write-once-read-many convention as SparkEntry.memoStore: the
    * fixture job runs on the first invocation only, so repeated runs
    * (bench: 3×/query) time the STREAMING machinery, not repeated
    * fixture collection. */
  private val fixtureMemo =
    new scala.collection.concurrent.TrieMap[String, AnyRef]()
  private def memo[A <: AnyRef](key: String)(build: => A): A =
    fixtureMemo.getOrElseUpdate(key, build).asInstanceOf[A]

  private val hourOnly: Map[String, IntervalSpec] =
    Map("hour" -> IntervalSpec(TimeStep(3600L)))

  /** First `n` events by event_id as driver tuples
    * (event_id, event_type, sec, value, user_id) — the deterministic
    * stream fixture and the oracle's `sub` CTE, one row set. */
  private def eventSubset(s: SparkSession, dir: String,
      n: Int): Array[(Long, String, Long, Double, Long)] =
    memo(s"events|$dir|$n") {
      SparkEntry.events(s, dir)
        .select(col("event_id").cast(LongType), col("event_type"),
          unix_timestamp(col("ts")).as("sec"),
          col("value").cast(DoubleType), col("user_id").cast(LongType))
        .orderBy("event_id").limit(n)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3),
          r.getLong(4)))
    }

  /** Memoized (doc_id, text) fixture subsets. */
  private def docSubset(s: SparkSession, dir: String, key: String,
      pred: org.apache.spark.sql.Column): Array[(Long, String)] =
    memo(s"docs|$dir|$key") {
      SparkEntry.table(s, dir, "documents").filter(pred)
        .select(col("doc_id").cast(LongType), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
    }

  private val SubsetN = 5000
  private val subsetSql = s"SELECT * FROM events ORDER BY event_id LIMIT $SubsetN"

  /** Run `body` with the session's shuffle partitioning scoped down
    * for the STREAMING pipeline it starts, restoring the caller's
    * value after. Streaming state is partitioned by
    * spark.sql.shuffle.partitions at query start and every micro-batch
    * pays one state-store task per partition per stateful operator —
    * 32 partitions over a bounded fixture is pure constant overhead
    * (measured: the session query spends most of its wall time in
    * state-store task scheduling, not data). At production scale the
    * operator would size this to the keyspace; the fixture sizes it to
    * the fixture. */
  private def withStreamPartitions[A](s: SparkSession, n: Int)(body: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Feed the fixture through a MemoryStream in `chunks` micro-batches,
    * blocking on each, and return the (stopped) query's result table. */
  private def runChunks[A](mem: MemoryStream[A],
      q: org.apache.spark.sql.streaming.StreamingQuery,
      rows: Seq[A], chunks: Int): Unit = {
    rows.grouped(math.max(1, (rows.length + chunks - 1) / chunks)).foreach {
      c => mem.addData(c: _*); q.processAllAvailable()
    }
  }

  /** Collect the (bounded) memory-sink table into a fresh local
    * DataFrame and DROP the sink view — repeated invocations (bench
    * runs each query 3×) must not accumulate live driver-held result
    * tables that the per-query GC can never reclaim. */
  private def drain(s: SparkSession, qn: String): DataFrame = {
    val t = s.table(qn)
    val rows = java.util.Arrays.asList(t.collect(): _*)
    val schema = t.schema
    s.catalog.dropTempView(qn)
    s.createDataFrame(rows, schema)
  }

  /** Streamed (name, ts, value, seq) frame off the shared event tuple
    * shape. */
  private def eventFrame(mem: MemoryStream[(Long, String, Long, Double, Long)]): DataFrame =
    mem.toDF().select(col("_2").as("name"),
      timestamp_seconds(col("_3")).as("ts"), col("_4").as("value"),
      col("_1").as("seq"))

  /** Horizon wider than any event subset's time span: watermarks
    * advance but never pass a real event, so the streaming fold drops
    * nothing and converges to the batch answer (the oracle contract).
    * TTL-drop semantics themselves are spec-verified in StreamingSpec. */
  private val WideHorizonSec = 10L * 365 * 86400

  val rows: Seq[Query] = Seq(

    // §2.9 shape 2 (live aggregate): watermarked streaming count fold
    // at minute buckets over 3 micro-batches, complete-mode memory
    // sink — the streaming twin of ts_count_minute on the 5000-event
    // prefix
    Query("stream_ts_count_minute", (s, dir) => withStreamPartitions(s, 8) {
      implicit val sq = s.sqlContext
      import s.implicits._
      val rows = eventSubset(s, dir, SubsetN)
      val mem = MemoryStream[(Long, String, Long, Double, Long)]
      val t = new Timeseries(s, CountT, SparkEntry.minuteOnly)
      val agg = StreamingIngest.aggregateStream(t, eventFrame(mem), "minute",
        col("name"), col("ts"), col("value"), defaultHorizonSec = WideHorizonSec)
      val qn = s"graft_stream_q${qid.incrementAndGet()}"
      val q = agg.writeStream.format("memory").queryName(qn)
        .outputMode("complete").start()
      runChunks(mem, q, rows.toSeq, 3); q.stop()
      drain(s, qn)
        .select(col("name"),
          TimeColumns.fromBucket(col("i_time"), TimeStep(60L)).as("i_time"),
          round(col("value"), 6).as("value"))
        .orderBy("name", "i_time")
    }, Sql(
      s"""WITH sub AS ($subsetSql)
         SELECT event_type AS name,
         CAST(floor(epoch(ts)/60) AS BIGINT)*60 AS i_time,
         round(sum(value), 6) AS value
         FROM sub GROUP BY 1,2 ORDER BY 1,2""")),

    // §2.9 + A5: streaming set fold — per-bucket distinct cardinality
    // maintained in stream state across micro-batches
    Query("stream_ts_set_card_hour", (s, dir) => withStreamPartitions(s, 8) {
      implicit val sq = s.sqlContext
      import s.implicits._
      val rows = eventSubset(s, dir, SubsetN)
      val mem = MemoryStream[(Long, String, Long, Double, Long)]
      val t = new Timeseries(s, SetT, hourOnly)
      val agg = StreamingIngest.aggregateStream(t, eventFrame(mem), "hour",
        col("name"), col("ts"), col("value"), defaultHorizonSec = WideHorizonSec)
      val qn = s"graft_stream_q${qid.incrementAndGet()}"
      val q = agg.writeStream.format("memory").queryName(qn)
        .outputMode("complete").start()
      runChunks(mem, q, rows.toSeq, 3); q.stop()
      drain(s, qn)
        .select(col("name"),
          TimeColumns.fromBucket(col("i_time"), TimeStep(3600L)).as("i_time"),
          size(col("value")).cast(LongType).as("value"))
        .orderBy("name", "i_time")
    }, Sql(
      s"""WITH sub AS ($subsetSql)
         SELECT event_type AS name,
         CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS i_time,
         count(DISTINCT value) AS value
         FROM sub GROUP BY 1,2 ORDER BY 1,2""")),

    // §2.9 + A2: streaming histogram fold, map state merged across
    // batches, exploded to rows for the engine-portable compare
    Query("stream_ts_histogram_hour", (s, dir) => withStreamPartitions(s, 8) {
      implicit val sq = s.sqlContext
      import s.implicits._
      val rows = eventSubset(s, dir, SubsetN)
      val mem = MemoryStream[(Long, String, Long, Double, Long)]
      val t = new Timeseries(s, HistogramT, hourOnly)
      val agg = StreamingIngest.aggregateStream(t, eventFrame(mem), "hour",
        col("name"), col("ts"), col("value"), defaultHorizonSec = WideHorizonSec)
      val qn = s"graft_stream_q${qid.incrementAndGet()}"
      val q = agg.writeStream.format("memory").queryName(qn)
        .outputMode("complete").start()
      runChunks(mem, q, rows.toSeq, 3); q.stop()
      drain(s, qn)
        .select(col("name"),
          TimeColumns.fromBucket(col("i_time"), TimeStep(3600L)).as("i_time"),
          explode(col("value")).as(Seq("v", "cnt")))
        .orderBy("name", "i_time", "v")
    }, Sql(
      s"""WITH sub AS ($subsetSql)
         SELECT event_type AS name,
         CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS i_time,
         value AS v, count(*) AS cnt
         FROM sub GROUP BY 1,2,3 ORDER BY 1,2,3""")),

    // §2.9 shape 1 (durable log append): bucketize each micro-batch
    // with the BATCH projection, append to a parquet bucket store
    // (checkpointed file sink), then read the store back through the
    // batch fold — proves the streamed log is byte-equivalent input to
    // the batch engine
    Query("stream_store_append_count", (s, dir) => withStreamPartitions(s, 8) {
      implicit val sq = s.sqlContext
      import s.implicits._
      val rows = eventSubset(s, dir, SubsetN)
      val mem = MemoryStream[(Long, String, Long, Double, Long)]
      val t = new Timeseries(s, CountT, SparkEntry.minuteOnly)
      val store = tmp("graft_stream_store")
      val q = StreamingIngest.appendToStore(t, eventFrame(mem), col("name"),
        col("ts"), col("value"), col("seq"), store, tmp("graft_stream_ck"))
      runChunks(mem, q, rows.toSeq, 3); q.stop()
      val prepared = s.read.parquet(store)
        .filter(col("interval") === "minute")
        .select(col("name"), col("i_time"),
          struct(col("r_time"), col("seq")).as("ord"), col("value"))
      CountT.aggregate(prepared, Seq("name", "i_time"))
        .select(col("name"),
          TimeColumns.fromBucket(col("i_time"), TimeStep(60L)).as("i_time"),
          round(col("value"), 6).as("value"))
        .orderBy("name", "i_time")
    }, Sql(
      s"""WITH sub AS ($subsetSql)
         SELECT event_type AS name,
         CAST(floor(epoch(ts)/60) AS BIGINT)*60 AS i_time,
         round(sum(value), 6) AS value
         FROM sub GROUP BY 1,2 ORDER BY 1,2""")),

    // Watermarked streaming sessionization (session_window state,
    // append mode): sessions close only when the watermark passes
    // end+gap, so a far-future sentinel row advances the watermark and
    // flushes every real session after the data batches — the
    // streaming twin of events_sessionize on the subset
    Query("stream_sessions_user", (s, dir) => withStreamPartitions(s, 8) {
      implicit val sq = s.sqlContext
      import s.implicits._
      val rows = eventSubset(s, dir, SubsetN)
      val minSec = rows.map(_._3).min
      val maxSec = rows.map(_._3).max
      // wider than the span: no event ever falls behind the watermark
      val horizon = (maxSec - minSec) + 1801
      val mem = MemoryStream[(Long, String, Long, Double, Long)]
      val ev = mem.toDF().select(col("_5").as("user_id"),
        timestamp_seconds(col("_3")).as("ts"), col("_4").as("value"))
      val sess = StreamingIngest.sessionStream(ev, Seq("user_id"), col("ts"),
        col("value"), gapSec = 1800, horizonSec = horizon)
      val qn = s"graft_stream_q${qid.incrementAndGet()}"
      val q = sess.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      runChunks(mem, q, rows.toSeq, 3)
      // sentinel (excluded user -1) pushes the watermark past every
      // real session's end+gap; its own still-open session never emits
      mem.addData((-1L, "", maxSec + horizon + 1800 + 100000, 0.0, -1L))
      q.processAllAvailable(); q.stop()
      drain(s, qn).filter(col("user_id") >= 0)
        .select(col("user_id"),
          unix_timestamp(col("session_start")).as("start_sec"),
          unix_timestamp(col("session_end")).as("end_sec"),
          col("n_events"), round(col("total_value"), 6).as("total_value"))
        .orderBy("user_id", "start_sec")
    }, Sql(
      s"""WITH sub AS ($subsetSql),
           o AS (SELECT user_id, event_id, value,
                   CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM sub),
           l AS (SELECT *, lag(sec) OVER
                   (PARTITION BY user_id ORDER BY sec, event_id) AS prev FROM o),
           g AS (SELECT *, CAST(sum(CASE WHEN prev IS NULL OR sec - prev > 1800
                                         THEN 1 ELSE 0 END) OVER
                   (PARTITION BY user_id ORDER BY sec, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS sid FROM l)
         SELECT user_id, min(sec) AS start_sec, max(sec) + 1800 AS end_sec,
                count(*) AS n_events, round(sum(value), 6) AS total_value
         FROM g GROUP BY user_id, sid ORDER BY user_id, start_sec""")),

    // Streaming count-min maintenance (foreachBatch per-batch grid
    // partitions, additive exactly-once store): stream the first 250
    // documents' tokens in 2 batches, sum the live grid, and pit its
    // estimates against true counts — cell-for-cell oracled like the
    // batch cms_token_freq
    Query("stream_cms_token_freq", (s, dir) => withStreamPartitions(s, 8) {
      implicit val sq = s.sqlContext
      import s.implicits._
      val docs = docSubset(s, dir, "lt250", col("doc_id") < 250)
      val mem = MemoryStream[(Long, String)]
      val toks = mem.toDF().select(explode(Dedup.tokens(col("_2"))).as("token"))
      val out = tmp("graft_stream_cms")
      val q = StreamingIngest.foreachBatch(toks, tmp("graft_stream_cms_ck"))(
        (b, id) => Sketch.countMinAppend(b, col("token"), depth = 4,
          width = 2048L, out, id, seed = 2L))
      runChunks(mem, q, docs.toSeq, 2); q.stop()
      val sketch = Sketch.countMinLoad(s, out)
      val allToks = SparkEntry.table(s, dir, "documents")
        .filter(col("doc_id") < 250)
        .select(explode(Dedup.tokens(col("text"))).as("token"))
      val top = allToks.groupBy("token").agg(count(lit(1)).as("n_true"))
        .orderBy(col("n_true").desc, col("token")).limit(50)
      Sketch.countMinEstimate(top, col("token"), sketch, depth = 4,
          width = 2048L, seed = 2L)
        .orderBy(col("n_true").desc, col("token"))
    }, Sql(
      s"""WITH tok AS (SELECT unnest(regexp_split_to_array(lower(trim(text)),
             '\\s+')) AS token FROM documents WHERE doc_id < 250),
         rows_ AS (SELECT unnest(range(4)) AS r),
         cells AS (SELECT r,
             (CAST(concat('0x', substr(md5(token || '#2:'
                || CAST(r AS VARCHAR)), 1, 15)) AS BIGINT)) % 2048 AS c,
             count(*) AS n
           FROM tok CROSS JOIN rows_ GROUP BY 1, 2),
         top AS (SELECT token, count(*) AS n_true FROM tok GROUP BY 1
                 ORDER BY n_true DESC, token LIMIT 50)
         SELECT t.token, t.n_true, min(coalesce(cl.n, 0)) AS est
         FROM top t CROSS JOIN rows_ u
         LEFT JOIN cells cl ON cl.r = u.r AND cl.c =
           (CAST(concat('0x', substr(md5(t.token || '#2:'
              || CAST(u.r AS VARCHAR)), 1, 15)) AS BIGINT)) % 2048
         GROUP BY 1, 2 ORDER BY n_true DESC, token""")),

    // Watermarked streaming exact dedup (dropDuplicatesWithinWatermark
    // state): originals arrive in batch 1, verbatim copies of every
    // 7th doc in batch 2 — every copy must hit retained hash state and
    // be dropped, so each surviving content hash appears exactly once
    Query("stream_dedup_exact", (s, dir) => withStreamPartitions(s, 8) {
      implicit val sq = s.sqlContext
      import s.implicits._
      val originals = docSubset(s, dir, "lt400", col("doc_id") < 400)
      val copies = originals.filter(_._1 % 7 == 0)
        .map { case (id, t) => (id + 100000L, t) }
      val mem = MemoryStream[(Long, String)]
      val docs = mem.toDF().select(col("_1").as("doc_id"),
        col("_2").as("text"),
        timestamp_seconds(lit(SparkEntry.START)).as("ts"))
      val dd = StreamingIngest.dedupStream(docs, col("ts"), col("text"),
        horizonSec = 86400L)
      val qn = s"graft_stream_q${qid.incrementAndGet()}"
      val q = dd.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      mem.addData(originals.toSeq: _*); q.processAllAvailable()
      mem.addData(copies.toSeq: _*); q.processAllAvailable()
      q.stop()
      drain(s, qn).groupBy("content_hash")
        .agg(count(lit(1)).as("n_rows"))
        .orderBy("content_hash")
    }, Sql(
      """SELECT DISTINCT md5(text) AS content_hash,
           CAST(1 AS BIGINT) AS n_rows
         FROM documents WHERE doc_id < 400 ORDER BY 1""")),

    // Streaming snapshot delta: yesterday's fingerprint store built
    // ONCE batch-side (~24 bytes/doc); today's crawl STREAMS through
    // the foreachBatch classifier — one id-keyed left join per
    // micro-batch, added/changed/unchanged appended to parquet
    // ('removed' is the post-crawl batch reconciliation; absent ids
    // never arrive on a stream, and the oracle mirrors that)
    Query("stream_snapshot_delta", (s, dir) => withStreamPartitions(s, 8) {
      implicit val sq = s.sqlContext
      import s.implicits._
      val store = memo(s"snapfp|$dir") {
        val (o, _) = SparkEntry.snapshotPair(
          SparkEntry.table(s, dir, "documents"))
        val p = tmp("graft_stream_snapfp") + "/fp"
        graft.ops.Snapshot.buildFingerprintStore(o, col("doc_id"),
          col("text"), p)
        p
      }
      val crawl = docSubset(s, dir, "snapnew", col("doc_id") % 17 =!= 3)
      val mem = MemoryStream[(Long, String)]
      val sdf = mem.toDF().select(col("_1").as("doc_id"),
        col("_2").as("text"))
      val out = tmp("graft_stream_snapd") + "/out"
      val q = StreamingIngest.foreachBatch(sdf, tmp("graft_stream_snapd_ck"))(
        (b, _) => Snapshot.appendDeltaAgainst(b.sparkSession, store, out, b,
          col("doc_id"), col("text")))
      runChunks(mem, q, crawl.toSeq, 2); q.stop()
      s.read.parquet(out).orderBy("id")
    }, Sql(
      """WITH o AS (SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN substr(text, 1, 40) ELSE text END AS text
           FROM documents WHERE doc_id % 13 <> 5),
         nw AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 3)
         SELECT nw.doc_id AS id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN md5(o.text) <> md5(nw.text) THEN 'changed'
                ELSE 'unchanged' END AS status,
           md5(o.text) AS old_fp, md5(nw.text) AS new_fp
         FROM nw LEFT JOIN o ON nw.doc_id = o.doc_id ORDER BY id""")),

    // Streaming model-based quality scoring: NB model fit ONCE batch-
    // side and persisted; the held-out docs stream through
    // foreachBatch into Classify.appendScoredAgainst (scoreIndexed +
    // doc_id anti-join append) — the stored-model path oracled against the
    // same closed-form training math as batch classify_nb_score
    Query("stream_nb_score", (s, dir) => withStreamPartitions(s, 8) {
      implicit val sq = s.sqlContext
      import s.implicits._
      // model fit is write-once batch work (same contract as the
      // persisted-index stores): memoized per sf-dir so repeated runs
      // time the streaming score path, not refitting
      val mp = memo(s"nbmodel|$dir") {
        val (w, m) = Classify.fitNaiveBayes(
          SparkEntry.table(s, dir, "documents")
            .filter(col("doc_id") % 5 =!= 0), col("text"),
          col("lang") === "en", alpha = 0.5)
        val p = tmp("graft_stream_nbm")
        Classify.saveModel(w, m, p)
        p
      }
      val held = docSubset(s, dir, "mod5", col("doc_id") % 5 === 0)
      val mem = MemoryStream[(Long, String)]
      val sdf = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
      // subpath of the fresh temp dir: must NOT pre-exist, so the
      // appender's readIfExists takes its empty-store branch
      val out = tmp("graft_stream_nbo") + "/out"
      val q = StreamingIngest.foreachBatch(sdf, tmp("graft_stream_nbo_ck"))(
        (b, _) => Classify.appendScoredAgainst(b.sparkSession, mp, out, b,
          col("text"), col("doc_id")))
      runChunks(mem, q, held.toSeq, 2); q.stop()
      s.read.parquet(out).orderBy("doc_id")
    }, Sql(
      // identical math to the batch classify_nb_score oracle: the
      // streamed stored-model path must reproduce the closed-form fit
      """WITH d AS (SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             regexp_split_to_array(lower(trim(text)), '\s+') AS toks
           FROM documents),
         tok AS (SELECT doc_id, y, unnest(toks) AS token FROM d),
         trc AS (SELECT token, sum(y) AS c1, sum(1.0 - y) AS c0
                 FROM tok WHERE doc_id % 5 != 0 GROUP BY 1),
         tot AS (SELECT sum(c1) AS n1, sum(c0) AS n0,
                        CAST(count(*) AS DOUBLE) AS v FROM trc),
         pri AS (SELECT sum(y) AS d1, sum(1.0 - y) AS d0 FROM d
                 WHERE doc_id % 5 != 0),
         w AS (SELECT token,
                 ln((c1 + 0.5) / (n1 + 0.5 * v)) -
                 ln((c0 + 0.5) / (n0 + 0.5 * v)) AS w FROM trc, tot),
         meta AS (SELECT ln(d1) - ln(d0) AS intercept,
                    ln(0.5 / (n1 + 0.5 * v)) - ln(0.5 / (n0 + 0.5 * v))
                      AS w_oov FROM tot, pri),
         tc AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS n
                FROM tok WHERE doc_id % 5 = 0 GROUP BY 1, 2),
         sc AS (SELECT tc.doc_id, sum(tc.n) AS nt,
                  max(meta.intercept) +
                    sum(tc.n * coalesce(w.w, meta.w_oov)) AS s
                FROM tc LEFT JOIN w ON tc.token = w.token
                CROSS JOIN meta GROUP BY tc.doc_id)
         SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
           round(s, 6) AS score,
           round(1.0 / (1.0 + exp(-s)), 6) AS prob,
           CAST(CASE WHEN s >= 0 THEN 1 ELSE 0 END AS BIGINT) AS pred
         FROM sc ORDER BY doc_id""")),

    // Streaming robots-gated frontier: candidate URLs STREAM through
    // the zero-aggregation map-side gate (per-host rule arrays
    // broadcast, winner picked by an array fold in the projection) —
    // a stream-static equi-join + projection, append mode, no
    // watermark, no state store; the oracle states every verdict
    // closed-form from the fixture policies (even hosts: graftbot
    // group Disallow /private + Allow /private/ok; odd hosts: star
    // Disallow /tmp + Allow /tmp/keep)
    Query("stream_url_frontier_gate", (s, dir) => withStreamPartitions(s, 8) {
      implicit val sq = s.sqlContext
      import s.implicits._
      val ids = docSubset(s, dir, "lt400", col("doc_id") < 400)
      val urlRows = ids.map { case (id, _) =>
        val host = s"site${id % 5}.example"
        val path = (id % 4) match {
          case 0 => "/private"
          case 1 => "/private/ok"
          case 2 => "/tmp/x"
          case _ => "/tmp/keep"
        }
        (id, s"https://$host$path")
      }
      val robots = SparkEntry.robotsFixture(
        SparkEntry.table(s, dir, "documents"))
      val mem = MemoryStream[(Long, String)]
      val sdf = mem.toDF().select(col("_1").as("rid"), col("_2").as("u"))
      val gated = Urls.robotsVerdictsMapSide(sdf, col("u"),
        col("rid"), robots, col("host"), col("robots_txt"), "graftbot")
      val qn = s"graft_stream_q${qid.incrementAndGet()}"
      val q = gated.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      runChunks(mem, q, urlRows.toSeq, 2); q.stop()
      drain(s, qn).select(col("doc_id").as("rid"), col("host"),
          col("path"), col("allowed").cast(IntegerType).as("allowed"))
        .orderBy("rid")
    }, Sql(
      """SELECT doc_id AS rid,
           'site' || CAST(doc_id % 5 AS VARCHAR) || '.example' AS host,
           CASE doc_id % 4 WHEN 0 THEN '/private' WHEN 1 THEN '/private/ok'
             WHEN 2 THEN '/tmp/x' ELSE '/tmp/keep' END AS path,
           CAST(CASE WHEN (doc_id % 5) % 2 = 0
             THEN CASE WHEN doc_id % 4 = 0 THEN 0 ELSE 1 END
             ELSE CASE WHEN doc_id % 4 = 2 THEN 0 ELSE 1 END
           END AS INT) AS allowed
         FROM documents WHERE doc_id < 400 ORDER BY rid""")),
  )
}
