package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

import graft.functions.ReferenceConstant
import graft.model._
import graft.ops.Layout
import graft.time._

/** Transform argument: built-in names and/or custom `(data, stepSize) =>
  * result` column functions (the reference's callable transforms,
  * timeseries.py:819-820, README.rst:740-749). */
final case class Transforms(
    names: Seq[String] = Nil,
    custom: Map[String, (Column, Column) => Column] = Map.empty) {
  def isEmpty: Boolean = names.isEmpty && custom.isEmpty
  def single: Boolean = names.size + custom.size == 1
  def all: Seq[(String, Option[(Column, Column) => Column])] =
    names.map(n => n -> Option.empty[(Column, Column) => Column]) ++
      custom.map { case (n, f) => n -> Some(f) }
}
object Transforms {
  val none: Transforms = Transforms()
  def apply(name: String): Transforms = Transforms(Seq(name))
}

/** Per-call read hooks — the reference's `fetch` / `process_row` /
  * `condense` / `collapse` / `join_rows` keyword callables
  * (timeseries.py:575-580, :643-652; README.rst:640-731).
  *
  * Column-function contracts (all pure Column expressions, mirrored on
  * the reference's dict/list shapes):
  *  - `processRow`: value => value, applied to each per-granule
  *    aggregated state (replaces the built-in cast INCLUDING readFunc,
  *    as in the reference where a custom process_row takes over
  *    read_func application).
  *  - `joinRows`: array (length = #names, series order, null for a
  *    series without data — the reference's `[res.get(key) for res in
  *    results]`) => merged value.
  *  - `condense`: array<struct<r_time: LONG epoch-secs, value>> sorted
  *    by r_time (the reference's `{resolution_ts: data}` dict) => value.
  *  - `collapse`: array<struct<i_time: LONG epoch-secs, value>> sorted
  *    by i_time => value. Per the reference, `collapse = true` with a
  *    custom `condense` uses the condense function for the collapse.
  */
final case class ReadHooks(
    fetch: DataFrame => DataFrame = identity,
    processRow: Option[Column => Column] = None,
    condense: Option[Column => Column] = None,
    collapse: Option[Column => Column] = None,
    joinRows: Option[Column => Column] = None) {
  /** Hooks that force the staged (multi-level) aggregation plan. */
  def staged: Boolean =
    processRow.isDefined || condense.isDefined || collapse.isDefined || joinRows.isDefined
}
object ReadHooks { val none: ReadHooks = ReadHooks() }

/** The Spark-native timeseries engine with the query semantics of the
  * reference (kairos timeseries.py). Data model (SURVEY.md §1.4): a
  * canonical bucket log
  *
  *   name STRING, interval STRING, i_time LONG, r_time LONG (-1 when
  *   coarse), seq LONG (arrival order), value <V>
  *
  * maintained append-only; every read aggregates the log once at the
  * requested output granularity (see [[graft.model.SeriesType]] for why
  * that reproduces fold/condense/collapse/join exactly). When per-call
  * hooks are present the plan is staged — granule fold → join →
  * condense → collapse — still grouped on bucket ids at every stage
  * (no driver loops).
  *
  * At scale the log is parquet partitioned by `interval` — reads prune
  * to one partition, push the name filter to the scan and, on a store
  * opened by [[load]], run as one Spark job of one stage and one task.
  * The per-call bucket bounds are checked in a Filter that compiles
  * once for every time range (see [[query]]).
  */
class Timeseries(
    val spark: SparkSession,
    val seriesType: SeriesType,
    val intervals: Map[String, IntervalSpec],
    val valueType: DataType = DoubleType,
    val readFunc: Column => Column = identity,
    val writeFunc: Column => Column = identity) {

  import Timeseries._

  // ---- ingest -------------------------------------------------------

  /** In-memory insert buffer: (name, value, ts epoch-sec, fanout). API
    * parity with the reference's insert/bulk_insert; real pipelines use
    * bucketize() on a DataFrame instead.
    *
    * Values are LOOSELY typed, like the reference's
    * (README.rst:41-45, timeseries.py:365-366): any value is accepted
    * driver-side and flows through `writeFunc(value).cast(valueType)`
    * at bucketize time, so `t.insert("stat", "login")` into a
    * string-valued set series works exactly like the kairos call. The
    * buffer carries the value's canonical string form (Double.toString
    * round-trips exactly, so numeric series are bit-identical). */
  private val buffer = ArrayBuffer[(String, String, Double, Int)]()
  private var attached: Option[DataFrame] = None
  // true while `attached` holds a caller's DataFrame (attach), false
  // for a store opened by `load`: see [[onePartition]]
  private var callerLog = false

  /** kairos insert(name, value, timestamp, intervals) — timeseries.py:
    * 439-472. Count-type default increment is 1 (:925-926). A
    * collection value routes to the bulk path (timeseries.py:458-461):
    * one datapoint per element at the same timestamp, in element
    * order — `insert("s", Seq(1, 2))` ≡ two inserts. */
  def insert(name: String, value: Any = 1.0, timestamp: Double, intervalsFanout: Int = 0): Unit =
    value match {
      case vs: Iterable[_] =>
        vs.foreach(v => insert(name, v, timestamp, intervalsFanout))
      case vs: Array[_] =>
        vs.foreach(v => insert(name, v, timestamp, intervalsFanout))
      case _ =>
        buffer += ((name, if (value == null) null else value.toString, timestamp, intervalsFanout))
    }

  /** insert with timestamp defaulted to now (timeseries.py:455). */
  def insertNow(name: String, value: Any = 1.0): Unit =
    insert(name, value, System.currentTimeMillis() / 1000.0)

  /** kairos bulk_insert (timeseries.py:413-437). */
  def bulkInsert(inserts: Map[Double, Map[String, Seq[Any]]], intervalsFanout: Int = 0): Unit =
    bulkInsertOpt(inserts.map { case (ts, m) => Option(ts) -> m }, intervalsFanout)

  /** bulk_insert with the reference's None-timestamp sugar
    * (timeseries.py:424-428): a `None` key maps to now(). */
  def bulkInsertOpt(inserts: Map[Option[Double], Map[String, Seq[Any]]],
      intervalsFanout: Int = 0,
      now: () => Double = () => System.currentTimeMillis() / 1000.0): Unit = {
    val resolved = inserts.toSeq.map { case (ts, m) => ts.getOrElse(now()) -> m }
    for ((ts, names) <- resolved.sortBy(_._1); (n, vs) <- names; v <- vs)
      insert(n, v, ts, intervalsFanout)
  }

  /** Attach an already-bucketized log (e.g. read back from parquet). */
  def attach(log: DataFrame): this.type = { attached = Some(log); callerLog = true; this }

  /** Project an events-shaped DataFrame into the canonical bucket log:
    * one output row per (input row × configured interval × fan-out
    * offset). The fan-out (`intervals=±N`, timeseries.py:484-497) lands
    * offset≠0 copies at the interval start (normalize() semantics).
    *
    * `guardNow`: write-time TTL guard (redis_backend.py:146-148,
    * cassandra_backend.py:347-349) — rows whose bucket is already past
    * the retention horizon of a TTL'd interval (`ttl()==0`,
    * timeseries.py:121-133) are dropped at write instead of carried
    * forever. The cutoff is a driver-side constant per interval, so the
    * filter folds into the scan. */
  def bucketize(events: DataFrame, name: Column, ts: Column, value: Column,
      seq: Column, fanout: Column = lit(0), guardNow: Option[Double] = None): DataFrame = {
    val perInterval = intervals.toSeq.map { case (iname, spec) =>
      val base = events.select(
        name.cast(StringType).as("name"),
        ts.as("ts"),
        writeFunc(value).cast(valueType).as("value"),
        seq.cast(LongType).as("seq"),
        fanout.cast(IntegerType).as("fanout"))
      // offsets: 0, plus 1..N (or -1..-N); offset≠0 uses the simulated
      // timestamp normalize(ts, offset). fanout == literal 0 (the
      // default, and every non-`intervals=±N` insert) skips the
      // Generate entirely — explode(sequence(0,0)) is an identity row
      // multiplier but still costs a plan node in every bucket scan.
      val noFanout = org.apache.spark.sql.GraftColumnBridge.expression(fanout) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v, _) => v == 0
        case _ => false
      }
      val exploded =
        if (noFanout) base.withColumn("sim_ts", col("ts"))
        else base
          .withColumn("off", explode(sequence(least(col("fanout"), lit(0)), greatest(col("fanout"), lit(0)))))
          .withColumn("sim_ts", when(col("off") === 0, col("ts"))
            .otherwise(TimeColumns.shiftNormalize(col("ts"), spec.step, col("off"))))
      val rows = exploded.select(
        col("name"),
        lit(iname).as("interval"),
        TimeColumns.bucket(col("sim_ts"), spec.step).as("i_time"),
        (if (spec.coarse) lit(-1L)
         else TimeColumns.bucket(col("sim_ts"), spec.resolution.get)).as("r_time"),
        col("seq"),
        col("value"))
      (guardNow, spec.steps) match {
        case (Some(now), Some(s)) =>
          rows.filter(writeGuardKeep(spec, s, now))
        case _ => rows
      }
    }
    perInterval.reduce(_ unionAll _)
  }

  /** keep-predicate of the write-time TTL guard: drop iff ttl()==0,
    * i.e. now_bucket − row_bucket > steps (bucket steps for relative;
    * whole days for Gregorian, timeseries.py:237-264). */
  private def writeGuardKeep(spec: IntervalSpec, steps: Int, now: Double): Column =
    spec.step match {
      case RelativeStep(_) =>
        col("i_time") >= lit(spec.iCalc.toBucket(now) - steps)
      case GregorianStep(u) =>
        val g = spec.iCalc.asInstanceOf[GregorianTime]
        val nowDate = g.fromBucketDate(g.toBucket(now))
        val stepDiffDays = steps.toLong * TimeStep.SimpleSeconds(u.head) / 86400L
        datediff(lit(java.sql.Date.valueOf(nowDate.toString)),
          TimeColumns.bucketDate(col("i_time"), u)) <= lit(stepDiffDays)
    }

  /** The full bucket log (in-memory buffer ∪ attached). The union is
    * BY NAME: a parquet-loaded attach carries its partition column
    * last, so positional union would mispair columns. */
  def log: DataFrame = {
    val fromBuffer = if (buffer.isEmpty) None else {
      import spark.implicits._
      val rows = buffer.toSeq.zipWithIndex.map { case ((n, v, t, f), i) => (n, v, t, i.toLong, f) }
      val ev = rows.toDF("name", "value", "ts_sec", "seq", "fanout")
        .withColumn("ts", timestamp_seconds(col("ts_sec")))
      Some(bucketize(ev, col("name"), col("ts"), col("value"), col("seq"), col("fanout")))
    }
    (fromBuffer, attached) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None)    => a
      case (None, Some(b))    => b
      case (None, None) =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], logSchema(valueType))
    }
  }

  /** Persist the bucket log as parquet partitioned by interval
    * (`interval=…/` directories) — each read prunes to one interval
    * directory and pushes its name filter to the scan. The reference's
    * physical layouts are all keyed to the bucket (mongo_backend.py:
    * 179-187 collection-per-interval + indexed bucket;
    * cassandra_backend.py:330-337 PK (name, interval, i_time)).
    *
    * SAME-PATH SAFE: the store is replaced in one
    * [[Layout.replaceDir]] swap, whose write into a
    * dot-prefixed temp dir materializes any lineage that reads `path`
    * itself (e.g. after `load(path)` → `delete(name)`) before the old
    * files move. A direct overwrite would have Spark deleting the
    * files its own scan is reading. After the swap the instance
    * re-attaches to the new store (the old file listing is gone) and
    * the insert buffer, now part of the written log, is cleared. */
  def save(path: String): Unit = {
    Layout.replaceDir(spark, path)(tmp =>
      log.write.mode("overwrite").partitionBy("interval").parquet(tmp))
    load(path)
    buffer.clear()
  }

  /** Attach a saved store with the log schema the store was written
    * with, so no Spark job infers it from parquet footers. */
  def load(path: String): this.type = {
    attach(spark.read.schema(logSchema(valueType)).parquet(path))
    callerLog = false
    this
  }

  // ---- streaming ----------------------------------------------------

  /** Watermarked streaming bucket aggregation for one interval — the
    * facade entry point over
    * [[graft.streaming.StreamingIngest.aggregateStream]] (r13 verdict
    * item 6): same (name, i_time, r_time, value) contract as the
    * batch log, late data beyond the interval's TTL horizon dropped.
    *
    * `bucketElemCap` is the hostile-hot-bucket hardening knob for the
    * series/set types, whose per-bucket state is otherwise
    * O(rows-in-bucket) within the watermark TTL: with a cap, the fold
    * swaps to the O(cap) [[graft.functions.BoundedCollect]] buffer
    * keeping the (ord, value) / value ORDER-SMALLEST prefix —
    * deterministic under replay, identical to the uncapped fold
    * whenever the bucket fits the cap (null datapoints excepted — see
    * [[graft.model.SeriesType.foldExprCapped]]). Count/gauge state is
    * O(1) and histogram's O(distinct); they ignore the cap.
    * Engagements are ledgered (`stream_bucket_cap`). */
  def streamAggregate(events: DataFrame, interval: String, name: Column,
      ts: Column, value: Column, defaultHorizonSec: Long = 7L * 86400,
      bucketElemCap: Option[Int] = None): DataFrame =
    graft.streaming.StreamingIngest.aggregateStream(this, events,
      interval, name, ts, value, defaultHorizonSec, bucketElemCap)

  // ---- reads --------------------------------------------------------

  private def spec(interval: String): IntervalSpec =
    intervals.getOrElse(interval, throw new UnknownInterval(interval))

  /** kairos get() — one interval bucket (timeseries.py:547-611).
    * Output: (i_time[, r_time], value) with times as epoch seconds.
    * Always emits the requested bucket's key, even when empty (the
    * reference re-keys at normalize(timestamp)). */
  def get(names: Seq[String], interval: String, timestamp: Double,
      condense: Boolean = false, transform: Transforms = Transforms.none,
      hooks: ReadHooks = ReadHooks.none): DataFrame = {
    val sp = spec(interval)
    val b = sp.iCalc.toBucket(timestamp)
    query(names, interval, sp, b, b, condense = condense, collapse = false,
      transform = transform, hooks = hooks, dense = true)
  }

  /** kairos series() — range of buckets with the reference's anchoring
    * rules (timeseries.py:619-719): (start,end) / (start,steps) /
    * (end,steps) / default end=now. Coarse output is dense over the
    * range (empty buckets filled); fine output — condensed or not —
    * keeps only extant buckets (sql_backend.py:228-247). */
  def series(names: Seq[String], interval: String,
      start: Option[Double] = None, end: Option[Double] = None,
      steps: Option[Int] = None, condense: Boolean = false,
      collapse: Boolean = false, transform: Transforms = Transforms.none,
      now: () => Double = () => System.currentTimeMillis() / 1000.0,
      hooks: ReadHooks = ReadHooks.none): DataFrame = {
    val sp = spec(interval)
    val nSteps = steps.orElse(sp.steps).getOrElse(1)
    val (b0, b1) = (start, end) match {
      case (Some(s), Some(e)) => (sp.iCalc.toBucket(s), sp.iCalc.toBucket(e))
      case (Some(s), None)    => (sp.iCalc.toBucket(s), sp.iCalc.toBucket(s, nSteps - 1))
      case (None, Some(e))    => (sp.iCalc.toBucket(e, -nSteps + 1), sp.iCalc.toBucket(e))
      case (None, None)       =>
        val e = now()
        (sp.iCalc.toBucket(e, -nSteps + 1), sp.iCalc.toBucket(e))
    }
    val b1c = math.max(b0, b1)
    query(names, interval, sp, b0, b1c, condense = condense || collapse,
      collapse = collapse, transform = transform, hooks = hooks, dense = sp.coarse)
  }

  /** kairos iterate() (timeseries.py:521-545): dense walk between the
    * first and last extant buckets (one get() per bucket → every bucket
    * key present). */
  def iterate(names: Seq[String], interval: String,
      condense: Boolean = false, transform: Transforms = Transforms.none,
      hooks: ReadHooks = ReadHooks.none): DataFrame = {
    val sp = spec(interval)
    val probe = log.filter(col("interval") === interval && col("name").isin(names: _*))
    val bounds = onePartition(probe, folded = false)
      .agg(min("i_time").as("b0"), max("i_time").as("b1")).head()
    require(!bounds.isNullAt(0), s"no data for $names/$interval")
    query(names, interval, sp, bounds.getLong(0), bounds.getLong(1),
      condense = condense, collapse = false, transform = transform,
      hooks = hooks, dense = true)
  }

  /** The single read pipeline behind get/series/iterate (SURVEY.md
    * §3.2-3.3): filter → [fetch hook] → cast → agg-at-output-granularity
    * → dense-axis fill → transforms → time keys.
    *
    * Plan shape on a store opened by [[load]] (or the insert buffer):
    * one Spark job of one stage and one task. The parquet scan is
    * pruned to the interval partition with the name filter pushed
    * down, and [[aggregated]] puts the filtered rows in one partition.
    * Every operator above it — the fold (all three stages on the
    * staged/hook path), the collapse's global agg, the shuffle-hash
    * join against the one-partition bucket axis, the sort — finds its
    * input distribution met, so the plan has no exchange, no broadcast
    * job and no adaptive re-plan, and a read whose scan finds no rows
    * runs the same plan as one that finds some. The result is bounded
    * by buckets × names. The price is a serial scan: because the
    * coalesce is a narrow dependency, the one task runs everything
    * below it — here the scan of the whole interval partition, where
    * unsorted store files let the pushed name filter prune few row
    * groups.
    *
    * On a caller's [[attach]]ed DataFrame the one task would run the
    * caller's whole lineage serially (a bucketize of an events table
    * scans and projects that whole table), so there the lineage and
    * the first fold keep their partitions, one hash exchange feeds the
    * fold's final merge, and the rows go to one partition after it
    * ([[onePartition]]): still no broadcast job, and the rest of the
    * read runs in that one partition.
    *
    * Every per-call bucket bound — the i_time filter, the axis, the
    * collapse key — is a [[ReferenceConstant]], so each read shape
    * compiles once whatever its time range. The i_time check therefore
    * runs in a Filter after the scan, not as a pushed filter; that
    * costs nothing while store files are unsorted, since each file's
    * i_time statistics span the whole file. `dense` controls
    * empty-bucket fill of coarse-shaped output: get/iterate always
    * fill; series fills only coarse intervals (fine+condense stays
    * sparse, sql_backend.py:236-247). */
  private def query(names: Seq[String], interval: String, sp: IntervalSpec,
      b0: Long, b1: Long, condense: Boolean, collapse: Boolean,
      transform: Transforms, hooks: ReadHooks, dense: Boolean): DataFrame = {

    val fine = !sp.coarse && !condense
    val multi = names.size > 1
    // `agged` holds (i_time [, r_time], value); collapse handled below.
    val agged = aggregated(names, interval, sp, b0, b1, condense, collapse, hooks)

    // dense fill: coarse-shaped output shows every bucket in range when
    // `dense` (G6); fine output keeps sparsity. With custom hooks the
    // fill value is null (the built-in empty may not match the custom
    // value type). collapse keys the single row at the FIRST bucket
    // (timeseries.py:706-713: first extant for sparse/fine output,
    // b0 for dense coarse output).
    val (filled: DataFrame, stepCol: Column) =
      if (collapse) {
        val merged = collapseAgg(agged, sp, hooks)
        // reference keys/spans the collapsed row off rval.keys(): dense
        // coarse output → b0..b1; sparse fine output → extant bounds
        // (timeseries.py:706-713)
        val (lo, hi) = (ReferenceConstant.long(b0), ReferenceConstant.long(b1))
        val (keyCol, spanCol) =
          if (sp.coarse)
            (lo, TimeColumns.spanSeconds(lo, hi, sp.step))
          else
            (coalesce(col("__k0"), lo),
              coalesce(TimeColumns.spanSeconds(col("__k0"), col("__k1"), sp.step),
                TimeColumns.spanSeconds(lo, hi, sp.step)))
        (merged.select(keyCol.as("i_time"), col("value"), spanCol.as("__step")),
          col("__step"))
      } else if (fine) {
        (agged, TimeColumns.stepSize(col("r_time"), sp.resolution.getOrElse(sp.step)))
      } else if (dense) {
        val fillValue =
          if (hooks.condense.isDefined || hooks.joinRows.isDefined || hooks.processRow.isDefined)
            lit(null)
          else if (multi && seriesType == GaugeT)
            // reference quirk: joined gauge empty = None, not 0 — Gauge._join
            // skips falsy rows and returns None when all are (gauge_helper.py
            // "no matching interval" joined assert; timeseries.py:981-988)
            lit(null).cast(agged.schema("value").dataType)
          else seriesType.empty(agged.schema("value").dataType)
        (onAxis(sp, b0, b1, agged)
          .select(col("i_time"), coalesce(col("value"), fillValue).as("value")),
          TimeColumns.stepSize(col("i_time"), sp.step))
      } else {
        (agged.select(col("i_time"), col("value")),
          TimeColumns.stepSize(col("i_time"), sp.step))
      }

    val transformed =
      if (transform.isEmpty) filled
      else {
        val outs = transform.all.map {
          case (tname, Some(f)) => f(col("value"), stepCol).as(tname)
          case (tname, None) =>
            seriesType.transformExpr(tname, col("value"), stepCol)
              .getOrElse(col("value")).as(tname)
        }
        if (transform.single) filled.select(
          (groupColsOut(fine).map(col) :+ outs.head.as("value")): _*)
        else filled.select((groupColsOut(fine).map(col) ++ outs): _*)
      }

    // bucket ids → epoch-second keys, time-ordered within the read's
    // one partition (no range exchange)
    val withTimes = transformed
      .withColumn("i_time", TimeColumns.fromBucket(col("i_time"), sp.step))
    val keyed =
      if (fine) withTimes.withColumn("r_time",
        TimeColumns.fromBucket(col("r_time"), sp.resolution.getOrElse(sp.step)))
      else withTimes
    keyed.orderBy(groupColsOut(fine).map(col): _*).drop("__step")
  }

  /** The log rows of one read — pruned to the interval partition,
    * name filter pushed to the scan, i_time checked against
    * per-call bounds that compile once, then the fetch hook, put in
    * one partition before or after the first fold ([[onePartition]]) —
    * aggregated to the read's output granularity: (i_time [, r_time],
    * value), or the staged plan's shape for hook-bearing and
    * collapsing reads. */
  private def aggregated(names: Seq[String], interval: String, sp: IntervalSpec,
      b0: Long, b1: Long, condense: Boolean, collapse: Boolean,
      hooks: ReadHooks): DataFrame = {
    val multi = names.size > 1
    val filtered = onePartition(hooks.fetch(log.filter(col("interval") === interval &&
      col("name").isin(names: _*) &&
      col("i_time").between(ReferenceConstant.long(b0), ReferenceConstant.long(b1)))),
      folded = false)

    // composite merge order (join-then-condense, _join_results
    // timeseries.py:727-745 running BEFORE the condense pass :599-606,
    // :693-704): resolution bucket, then series-list position, then
    // arrival (sql_backend.py:268,312). Verified against the
    // reference's own goldens (series_helper.py:238-251): a joined
    // condensed read interleaves series WITHIN each resolution bucket.
    val nameIdx =
      if (!multi) lit(1L)
      else coalesce(array_position(lit(names.toArray), col("name")), lit(0L))
    val rawValue = if (hooks.processRow.isEmpty) readFunc(col("value")) else col("value")
    val prepared = filtered.select(
      col("i_time"), col("r_time"), nameIdx.as("name_idx"),
      struct(col("i_time"), col("r_time"), nameIdx.as("name_idx"), col("seq")).as("ord"),
      rawValue.as("value"))

    if (!hooks.staged && !collapse) {
      val groupCols = if (!sp.coarse && !condense) Seq("i_time", "r_time") else Seq("i_time")
      onePartition(seriesType.aggregate(prepared, groupCols), folded = true)
    } else {
      stagedAgg(prepared, sp, names, condense = condense, hooks = hooks)
    }
  }

  /** Staged aggregation for hook-bearing (or fine-collapse) reads:
    * granule fold → [processRow] → join across names → condense. Every
    * stage after the first fold groups on bucket keys within the
    * read's one partition. */
  private def stagedAgg(prepared: DataFrame, sp: IntervalSpec, names: Seq[String],
      condense: Boolean, hooks: ReadHooks): DataFrame = {
    val multi = names.size > 1
    val rKeyed = !sp.coarse
    // stage 1: per-granule type fold (the reference's per-row storage
    // state). Granule = (i_time [, r_time] [, name]).
    val k1 = Seq("i_time") ++ (if (rKeyed) Seq("r_time") else Nil) ++
      (if (multi) Seq("name_idx") else Nil)
    var cur = onePartition(seriesType.aggregate(prepared, k1), folded = true)
    for (f <- hooks.processRow) cur = cur.withColumn("value", f(col("value")))

    // stage 2: join across names at granule level (_join_results,
    // timeseries.py:727-745 — runs BEFORE condense).
    if (multi) {
      val kj = (Seq("i_time") ++ (if (rKeyed) Seq("r_time") else Nil)).map(col)
      val byName = map_from_entries(collect_list(struct(col("name_idx"), col("value"))))
      val rowsInOrder = F.transform(sequence(lit(1), lit(names.size)),
        i => try_element_at(byName, i.cast(LongType)))
      val joinFn: Column => Column =
        hooks.joinRows.getOrElse(seriesType.mergeExpr _)
      cur = cur.groupBy(kj: _*).agg(joinFn(rowsInOrder).as("value"))
    }

    // stage 3: condense resolution granules into interval buckets —
    // custom callable gets the reference's {r_ts: data} shape as a
    // sorted array<struct<r_time, value>>.
    if (condense && rKeyed) {
      val entries = sortByKey(collect_list(struct(
        TimeColumns.fromBucket(col("r_time"), sp.resolution.getOrElse(sp.step)).as("r_time"),
        col("value").as("value"))), "r_time")
      val condensed = hooks.condense match {
        case Some(f) => f(entries)
        case None    => seriesType.mergeExpr(F.transform(entries, e => e("value")))
      }
      cur = cur.groupBy("i_time").agg(condensed.as("value"))
    }
    cur
  }

  /** Global collapse of interval rows into one row. Emits
    * (__k0, __k1, value): first/last extant bucket ids + merged value.
    * Custom callable (or the custom condense when collapse=true,
    * README.rst:725-731) gets {i_ts: data} as a sorted array. */
  private def collapseAgg(agged: DataFrame, sp: IntervalSpec, hooks: ReadHooks): DataFrame = {
    val entries = sortByKey(collect_list(struct(
      TimeColumns.fromBucket(col("i_time"), sp.step).as("i_time"),
      col("value").as("value"))), "i_time")
    val value = hooks.collapse.orElse(hooks.condense) match {
      case Some(f) => f(entries)
      case None    =>
        // empty range collapses to the type's empty value, not null
        coalesce(seriesType.mergeExpr(F.transform(entries, e => e("value"))),
          seriesType.empty(agged.schema("value").dataType))
    }
    agged.agg(min(col("i_time")).as("__k0"), max(col("i_time")).as("__k1"),
      value.as("value"))
  }

  /** Sort an array of (key, value) structs by the KEY field only —
    * array_sort's default comparator would try to order the value too,
    * which is illegal for map-valued states (histogram). */
  private def sortByKey(entries: Column, key: String): Column =
    F.array_sort(entries, (l, r) =>
      when(l(key) < r(key), lit(-1)).when(l(key) > r(key), lit(1)).otherwise(lit(0)))

  /** Where a read's rows go to one partition. A read of a store opened
    * by [[load]] (or of the insert buffer) puts them there right after
    * the scan and the fetch hook, so the whole read is one task. A
    * caller's [[attach]]ed DataFrame puts them there after the first
    * fold instead: its lineage can be any computation (a whole events
    * table bucketized on the fly), which one task would run serially,
    * so it and the fold keep their partitions and the read pays one
    * hash exchange. Everything after the fold — the later hook stages,
    * the collapse, the axis join, the sort — runs in the one partition
    * either way. */
  private def onePartition(df: DataFrame, folded: Boolean): DataFrame =
    if (folded == callerLog) df.coalesce(1) else df

  /** The bucket axis b0..b1 left-joined with `agged` (keyed by
    * i_time). Both sides are one partition, so the shuffle-hash join
    * (built on `agged`, bounded by buckets × names) needs no exchange;
    * a broadcast would plan a job of its own. */
  private def onAxis(sp: IntervalSpec, b0: Long, b1: Long, agged: DataFrame): DataFrame =
    TimeColumns.axis(spark, sp.iCalc, b0, b1).coalesce(1)
      .join(agged.hint("shuffle_hash"), Seq("i_time"), "left")

  private def groupColsOut(fine: Boolean): Seq[String] =
    if (fine) Seq("i_time", "r_time") else Seq("i_time")

  // ---- metadata / retention ------------------------------------------

  /** kairos properties() (timeseries.py:401-405): first/last extant
    * bucket timestamps per interval for a stat. */
  def properties(name: String): Map[String, (Long, Long)] = {
    val rows = log.filter(col("name") === name)
      .groupBy("interval")
      .agg(min("i_time").as("first"), max("i_time").as("last"))
      .collect()
    rows.map { r =>
      val iname = r.getString(0)
      val sp = spec(iname)
      iname -> (sp.iCalc.fromBucket(r.getLong(1)), sp.iCalc.fromBucket(r.getLong(2)))
    }.toMap
  }

  /** kairos list() (timeseries.py:395-399). */
  def list(): DataFrame = log.select("name").distinct()

  /** kairos delete(name) — as a log rewrite (anti-filter). The buffer is
    * folded into the snapshot first so buffered rows for the deleted
    * name go away too (and aren't double-counted later). In-memory
    * view only — to delete from a saved store use [[deleteFromStore]]
    * (surgical partition rewrite) or follow with a same-path-safe
    * [[save]]. */
  def delete(name: String): Unit = {
    attached = Some(log.filter(col("name") =!= name))
    buffer.clear()
  }

  /** kairos delete_all (timeseries.py:512-519 / Cassandra TRUNCATE). */
  def deleteAll(): Unit = {
    attached = None
    callerLog = false
    buffer.clear()
  }

  /** kairos expire (sql_backend.py:161-178): drop buckets past the
    * retention horizon of every TTL'd interval. The cutoff is
    * to_bucket(now − ttl_seconds) — calendar-aware for Gregorian
    * intervals (bucket ids are NOT linear there), with the reference's
    * whole-day TTL approximation (timeseries.py:237-264). */
  def expired(now: Double): DataFrame = log.filter(retained(now))

  /** keep-predicate shared by [[expired]] and [[compact]]. */
  private def retained(now: Double): Column =
    intervals.toSeq.map { case (iname, sp) =>
      sp.steps match {
        case Some(s) =>
          val ttlSec = sp.step match {
            case RelativeStep(st)  => s.toLong * st
            case GregorianStep(u)  => s.toLong * TimeStep.SimpleSeconds(u.head)
          }
          col("interval") === iname && col("i_time") > lit(sp.iCalc.toBucket(now - ttlSec))
        case None => col("interval") === iname
      }
    }.reduce(_ || _)

  /** Physical TTL compaction of a saved bucket store — the engine's
    * analogue of the reference backends' automatic expiry (Redis
    * EXPIRE, redis_backend.py:162-173; Mongo TTL index,
    * mongo_backend.py:66-68; Cassandra USING TTL,
    * cassandra_backend.py:360). The parquet log is append-only, so
    * without a physical rewrite a TTL'd store grows forever and only
    * the read-side [[expired]] filter hides the garbage.
    *
    * Rewrites ONLY the partition directories of TTL'd intervals:
    * each is filtered through the same retention predicate the read
    * path uses, written to a dot-prefixed sibling temp dir (invisible
    * to concurrent readers), and swapped in. Intervals without a TTL
    * are never touched — their files survive byte-identical. Streams
    * executor-side (no driver materialization, no self-overwrite
    * lineage hazard), so it holds at any partition size. */
  def compact(path: String, now: Double): Unit =
    rewriteStorePartitions(path,
      select = iname => intervals(iname).steps.isDefined,
      probe = _ => true,
      transform = _.filter(retained(now)))

  /** Store-level physical delete of one stat — the analogue of the
    * reference backends' surgical per-name deletes (redis_backend.py:
    * 175-188 key scan + DELETE pipeline; sql_backend.py:250-256
    * `DELETE WHERE name=`; mongo_backend.py:281-292;
    * cassandra_backend.py:261-267). [[delete]] only rewrites the
    * in-memory view; this rewrites the saved store itself.
    *
    * Per interval partition: a pushed-filter probe first checks
    * whether the name occurs at all (parquet dictionary/stats make
    * that a metadata-cheap scan) — intervals without the name keep
    * their files byte-identical; affected ones stream through the
    * anti-filter via the same temp-dir + swap as [[compact]]. */
  def deleteFromStore(path: String, name: String): Unit =
    rewriteStorePartitions(path,
      select = _ => true,
      probe = df => !df.filter(col("name") === name).isEmpty,
      transform = _.filter(col("name") =!= name))

  /** Reconciliation for at-least-once streaming appends
    * ([[graft.streaming.StreamingIngest.appendToStore]]): a replayed
    * micro-batch re-appends byte-identical log rows, which a COUNT
    * fold would double-count. Dropping exact duplicates of the full
    * logical row (name, interval, i_time, r_time, seq, value) restores
    * exactly-once store contents — and ONLY replays collapse, because
    * `seq` (the per-event arrival id) is part of the key: two
    * legitimate events with equal values carry distinct seqs and both
    * survive. Per interval partition: a cheap aggregate probe first
    * checks a duplicate exists at all — clean partitions keep their
    * files byte-identical; dirty ones stream through dropDuplicates
    * via the same temp-dir + swap as [[compact]]. */
  def dedupStore(path: String): Unit = {
    val key = Seq("name", "interval", "i_time", "r_time", "seq", "value")
    rewriteStorePartitions(path,
      select = _ => true,
      probe = df => !df.groupBy(key.map(col): _*).count()
        .filter(col("count") > 1).isEmpty,
      transform = _.dropDuplicates(key))
  }

  /** Shared partition-rewrite machinery behind [[compact]],
    * [[deleteFromStore]] and [[dedupStore]]: each selected `interval=`
    * directory whose probe fires is filtered through `transform` and
    * replaced in one [[Layout.replaceDir]] swap. Streams
    * executor-side — no driver materialization, no self-overwrite
    * lineage hazard — so it holds at any partition size. A store or
    * partition that an interrupted swap left parked is recovered
    * before its existence check, so it is rewritten, not skipped. */
  private def rewriteStorePartitions(path: String,
      select: String => Boolean,
      probe: DataFrame => Boolean,
      transform: DataFrame => DataFrame): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = StructType(logSchema(valueType).filterNot(_.name == "interval"))
    Layout.recoverDir(spark, path)
    intervals.keys.filter(select).foreach { iname =>
      val part = s"$path/interval=$iname"
      val p = new org.apache.hadoop.fs.Path(part)
      Layout.recoverDir(spark, part)
      if (p.getFileSystem(conf).exists(p)) {
        val df = spark.read.schema(schema).parquet(part)
          .withColumn("interval", lit(iname))
        if (probe(df))
          Layout.replaceDir(spark, part)(tmp =>
            transform(df).drop("interval").write.mode("overwrite").parquet(tmp))
      }
    }
  }

  /** Manual expire: rewrite the log through the retention view (and fold
    * the buffer in so it isn't re-bucketized on the next read). */
  def expire(now: Double): Unit = {
    attached = Some(expired(now))
    buffer.clear()
  }

  // ---- series analytics (facade over graft.ops.Features) -------------

  /** Rolling z-score anomaly scan over one stat's series read: each
    * bucket scored against its trailing `window` buckets excluding
    * itself ([[graft.ops.Features.zscoreAnomaly]] — null verdicts on
    * warm-up/zero spread, `is_anomaly` never null). The read is a
    * normal dense [[series]] (empty count buckets ARE zeros — a silent
    * hour is a data point, not a gap), and its output is bounded by
    * the steps contract, so the single-series window is driver-scale
    * by the same argument as [[properties]]. */
  def anomalies(name: String, interval: String, window: Int = 24,
      threshold: Double = 3.0, start: Option[Double] = None,
      end: Option[Double] = None, steps: Option[Int] = None,
      now: () => Double = () => System.currentTimeMillis() / 1000.0)
      : DataFrame =
    graft.ops.Features.zscoreAnomaly(
      series(Seq(name), interval, start, end, steps, now = now),
      Seq.empty, "i_time", col("value"), window, threshold)

  /** Linear interpolation of one stat's EMPTY buckets over a dense
    * range ([[graft.ops.Features.interpolateLinear]]): unlike the
    * reference's dense fill (numeric empty = 0, timeseries.py
    * `_type_no_value`), missing buckets here become the time-weighted
    * line through their non-empty neighbors — the gauge-style gap
    * repair a monitoring read wants; leading/trailing gaps stay null.
    * Output (i_time, value, filled, interpolated); bounded by the
    * bucket range like every per-stat read. */
  def interpolate(name: String, interval: String, start: Double,
      end: Double, hooks: ReadHooks = ReadHooks.none): DataFrame = {
    val sp = spec(interval)
    val (b0, b1) = (sp.iCalc.toBucket(start), sp.iCalc.toBucket(end))
    // query()'s own read path — same filter, fetch hook, processRow
    // guard (values are already processed at insert, so readFunc must
    // NOT re-apply) and staged aggregation for hook-bearing reads — so
    // a hook-configured Timeseries sees the SAME values here as
    // through series()/anomalies(); the axis join keeps the read's one
    // partition, so the window and the sort need no exchange either
    val agged = aggregated(Seq(name), interval, sp, b0, b1,
      condense = true, collapse = false, hooks = hooks)
    graft.ops.Features.interpolateLinear(onAxis(sp, b0, b1, agged), Seq.empty,
      "i_time", col("value"))
      .withColumn("i_time", TimeColumns.fromBucket(col("i_time"), sp.step))
      .orderBy("i_time")
  }
}

class UnknownInterval(interval: String)
  extends IllegalArgumentException(s"unknown interval: $interval")

object Timeseries {
  def logSchema(vt: DataType): StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("interval", StringType),
    StructField("i_time", LongType),
    StructField("r_time", LongType),
    StructField("seq", LongType),
    StructField("value", vt)))
}
