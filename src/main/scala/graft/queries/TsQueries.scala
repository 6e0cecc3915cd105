package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{ReadHooks, Timeseries}
import graft.model._
import graft.ops._
import graft.queries.Oracle.{RowsOnly, Sql}
import graft.time._
/** The kairos-parity queries (SURVEY.md §2): per-type bucket folds,
  * reads, condense/collapse, transforms and retention over the events
  * log, plus the Spark-side time-series extras (`ts_*`). */
object TsQueries {

  import graft.SparkEntry._

  private val minuteAxisDay = "SELECT unnest(generate_series(28401120, 28402559)) AS b"

  val rows: Seq[Query] = Seq(

    // A3/G2: count fold at minute buckets per stat
    Query("ts_count_minute", (s, dir) => {
      val t = eventLog(s, dir, CountT, minuteOnly)
      grouped(t, "minute")
        .select(col("name"), fromB(col("i_time"), TimeStep(60L)).as("i_time"),
          round(col("value"), 6).as("value"))
        .presentSorted("name", "i_time")
    }, Sql(
      """SELECT event_type AS name,
         CAST(floor(epoch(ts)/60) AS BIGINT)*60 AS i_time,
         round(sum(value), 6) AS value
         FROM events GROUP BY 1,2 ORDER BY 1,2""")),

    // §1.3: DecimalType value end-to-end — the reference's SQL/CQL type
    // maps promise exact-decimal values (sql_backend.py:29-65
    // DECIMAL(24,12); cassandra_backend.py:29-61 'decimal'); here the
    // write path stores DECIMAL(12,2) (writeFunc cast at bucketize) and
    // the count fold sums decimals EXACTLY — no float accumulation
    // anywhere, the property decimal columns exist for
    Query("ts_count_decimal_hour", (s, dir) => {
      val t = new Timeseries(s, CountT,
        Map("hour" -> IntervalSpec(TimeStep(3600L))),
        valueType = DecimalType(12, 2))
      t.attach(t.bucketize(events(s, dir), col("event_type"), col("ts"),
        col("value"), col("event_id")))
      grouped(t, "hour")
        // exact cents as BIGINT: the decimal write/fold path stays
        // decimal end-to-end; the OUTPUT avoids decimal columns, whose
        // engine-side rendering the driver's hash is sensitive to
        .select(col("name"), fromB(col("i_time"), TimeStep(3600L)).as("i_time"),
          (col("value").cast(DecimalType(18, 2)) * lit(100))
            .cast(LongType).as("value_c"))
        .presentSorted("name", "i_time")
    }, Sql(
      """SELECT event_type AS name,
         CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS i_time,
         CAST(sum(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS value_c
         FROM events GROUP BY 1,2 ORDER BY 1,2""")),

    // A4/G1+G4: gauge condensed hour from minute resolution
    Query("ts_gauge_hour", (s, dir) => {
      val t = eventLog(s, dir, GaugeT, hourFine)
      grouped(t, "hour")
        .select(col("name"), fromB(col("i_time"), TimeStep(3600L)).as("i_time"), col("value"))
        .presentSorted("name", "i_time")
    }, Sql(
      """SELECT event_type AS name,
         CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS i_time,
         arg_max(value, CAST(floor(epoch(ts)/60) AS BIGINT)*100000000 + event_id) AS value
         FROM events GROUP BY 1,2 ORDER BY 1,2""")),

    // A5: set cardinality at hour buckets
    Query("ts_set_card_hour", (s, dir) => {
      val t = eventLog(s, dir, SetT, hourFine)
      grouped(t, "hour")
        .select(col("name"), fromB(col("i_time"), TimeStep(3600L)).as("i_time"),
          size(col("value")).cast(LongType).as("value"))
        .presentSorted("name", "i_time")
    }, Sql(
      """SELECT event_type AS name,
         CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS i_time,
         count(DISTINCT value) AS value
         FROM events GROUP BY 1,2 ORDER BY 1,2""")),

    // A2: histogram fold exploded to rows
    Query("ts_histogram_daily", (s, dir) => {
      val t = eventLog(s, dir, HistogramT, Map("daily" -> IntervalSpec(TimeStep("daily"))))
      grouped(t, "daily")
        .select(col("name"), fromB(col("i_time"), TimeStep("daily")).as("i_time"),
          explode(col("value")).as(Seq("v", "cnt")))
        .presentSorted("name", "i_time", "v")
    }, Sql(
      """SELECT event_type AS name,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS i_time,
         value AS v, count(*) AS cnt
         FROM events GROUP BY 1,2,3 ORDER BY 1,2,3""")),

    // A1 + T1-T5: series fold + transform matrix
    Query("ts_series_transforms_hour", (s, dir) => {
      val t = eventLog(s, dir, SeriesT, hourFine)
      val step = TimeStep(3600L)
      val stepCol = TimeColumns.stepSize(col("i_time"), step)
      grouped(t, "hour").select(
        col("name"), fromB(col("i_time"), step).as("i_time"),
        round(SeriesT.transformExpr("mean", col("value"), stepCol).get, 6).as("t_mean"),
        SeriesT.transformExpr("count", col("value"), stepCol).get.as("t_count"),
        SeriesT.transformExpr("min", col("value"), stepCol).get.as("t_min"),
        SeriesT.transformExpr("max", col("value"), stepCol).get.as("t_max"),
        round(SeriesT.transformExpr("sum", col("value"), stepCol).get, 6).as("t_sum"),
        round(SeriesT.transformExpr("rate", col("value"), stepCol).get, 6).as("t_rate"))
        .presentSorted("name", "i_time")
    }, Sql(
      """SELECT event_type AS name,
         CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS i_time,
         round(avg(value), 6) AS t_mean,
         count(*) AS t_count,
         min(value) AS t_min,
         max(value) AS t_max,
         round(sum(value), 6) AS t_sum,
         round(count(*)/3600.0, 6) AS t_rate
         FROM events GROUP BY 1,2 ORDER BY 1,2""")),

    // S2/G6: fine uncondensed read — sparse (i_time, r_time) grid
    Query("ts_fine_hour_minute", (s, dir) => {
      val t = eventLog(s, dir, CountT, hourFine)
      val prepared = t.log.filter(col("interval") === "hour")
        .select(col("name"), col("i_time"), col("r_time"), col("value"))
      CountT.aggregate(prepared, Seq("name", "i_time", "r_time"))
        .select(col("name"),
          fromB(col("i_time"), TimeStep(3600L)).as("i_time"),
          fromB(col("r_time"), TimeStep(60L)).as("r_time"),
          round(col("value"), 6).as("value"))
        .presentSorted("name", "i_time", "r_time")
    }, Sql(
      """SELECT event_type AS name,
         CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS i_time,
         CAST(floor(epoch(ts)/60) AS BIGINT)*60 AS r_time,
         round(sum(value), 6) AS value
         FROM events GROUP BY 1,2,3 ORDER BY 1,2,3""")),

    // G2+G6: series() range read with dense empty-bucket fill
    Query("ts_series_dense_day", (s, dir) => {
      val t = eventLog(s, dir, CountT, minuteOnly)
      t.series(Seq("click"), "minute", start = Some(START.toDouble), steps = Some(1440))
        .select(col("i_time"), round(col("value"), 6).as("value"))
    }, Sql(
      s"""WITH axis AS ($minuteAxisDay),
         d AS (SELECT CAST(floor(epoch(ts)/60) AS BIGINT) AS b, sum(value) AS v
               FROM events WHERE event_type='click' GROUP BY 1)
         SELECT axis.b*60 AS i_time, round(coalesce(d.v, 0.0), 6) AS value
         FROM axis LEFT JOIN d USING(b) ORDER BY 1""")),

    // G4: condense fine hour data to interval level over a month range
    Query("ts_condense_month", (s, dir) => {
      val t = eventLog(s, dir, CountT, hourFine)
      t.series(Seq("view"), "hour", start = Some(START.toDouble), steps = Some(720),
        condense = true)
        .select(col("i_time"), round(col("value"), 6).as("value"))
    }, Sql(
      // fine+condense output is SPARSE (only extant interval buckets), per
      // sql_backend.py:236-247 + the condense loop over extant keys
      """SELECT CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS i_time,
         round(sum(value), 6) AS value
         FROM events WHERE event_type='view'
           AND CAST(floor(epoch(ts)/3600) AS BIGINT) BETWEEN 473352 AND 474071
         GROUP BY 1 ORDER BY 1""")),

    // G5: collapse an entire range to one row keyed at first bucket
    Query("ts_collapse_month", (s, dir) => {
      val t = eventLog(s, dir, CountT, minuteOnly)
      t.series(Seq("purchase"), "minute", start = Some(START.toDouble), steps = Some(43200),
        collapse = true)
        .select(col("i_time"), round(col("value"), 6).as("value"))
    }, Sql(
      """SELECT 1704067200 AS i_time, round(sum(value), 6) AS value
         FROM events WHERE event_type='purchase'
         AND CAST(floor(epoch(ts)/60) AS BIGINT) BETWEEN 28401120 AND 28444319""")),

    // G7: multi-stat join (union + re-aggregate at bucket level)
    Query("ts_join_day", (s, dir) => {
      val t = eventLog(s, dir, CountT, minuteOnly)
      t.series(Seq("click", "view"), "minute", start = Some(START.toDouble), steps = Some(1440))
        .select(col("i_time"), round(col("value"), 6).as("value"))
    }, Sql(
      s"""WITH axis AS ($minuteAxisDay),
         d AS (SELECT CAST(floor(epoch(ts)/60) AS BIGINT) AS b, sum(value) AS v
               FROM events WHERE event_type IN ('click','view') GROUP BY 1)
         SELECT axis.b*60 AS i_time, round(coalesce(d.v, 0.0), 6) AS value
         FROM axis LEFT JOIN d USING(b) ORDER BY 1""")),

    // G3: iterate — dense walk between first and last extant buckets
    Query("ts_iterate_minute", (s, dir) => {
      val t = eventLog(s, dir, CountT, minuteOnly)
      t.iterate(Seq("error"), "minute")
        .select(col("i_time"), round(col("value"), 6).as("value"))
    }, Sql(
      """WITH e AS (SELECT CAST(floor(epoch(ts)/60) AS BIGINT) AS b, value
                    FROM events WHERE event_type='error'),
         bounds AS (SELECT min(b) AS b0, max(b) AS b1 FROM e),
         axis AS (SELECT unnest(generate_series((SELECT b0 FROM bounds), (SELECT b1 FROM bounds))) AS b),
         d AS (SELECT b, sum(value) AS v FROM e GROUP BY 1)
         SELECT axis.b*60 AS i_time, round(coalesce(d.v, 0.0), 6) AS value
         FROM axis LEFT JOIN d USING(b) ORDER BY 1""")),

    // G10: the per-call `fetch` hook (timeseries.py:575-580) driver-
    // oracled — the hook injects a store-level restriction (even
    // arrival seq only) into query()'s single read pipeline before
    // the fold; iterate()'s walk bounds come from the UNhooked log
    // (the reference walks the store's extant buckets), and the
    // oracle mirrors both sides of that asymmetry
    Query("ts_fetch_hook_minute", (s, dir) => {
      val t = eventLog(s, dir, CountT, minuteOnly)
      t.iterate(Seq("error"), "minute",
          hooks = ReadHooks(fetch = df => df.filter(col("seq") % 2 === 0)))
        .select(col("i_time"), round(col("value"), 6).as("value"))
    }, Sql(
      """WITH e AS (SELECT CAST(floor(epoch(ts)/60) AS BIGINT) AS b, value,
                    event_id FROM events WHERE event_type='error'),
         bounds AS (SELECT min(b) AS b0, max(b) AS b1 FROM e),
         axis AS (SELECT unnest(generate_series((SELECT b0 FROM bounds), (SELECT b1 FROM bounds))) AS b),
         d AS (SELECT b, sum(value) AS v FROM e WHERE event_id % 2 = 0 GROUP BY 1)
         SELECT axis.b*60 AS i_time, round(coalesce(d.v, 0.0), 6) AS value
         FROM axis LEFT JOIN d USING(b) ORDER BY 1""")),

    // I6: insert fan-out intervals=+3 (value lands in bucket..bucket+3)
    Query("ts_fanout_after3", (s, dir) => {
      val t = new Timeseries(s, CountT, minuteOnly)
      val log = t.bucketize(events(s, dir), col("event_type"), col("ts"),
        col("value"), col("event_id"), fanout = lit(3))
      val prepared = log.select(col("name"), col("i_time"), col("value"))
      CountT.aggregate(prepared, Seq("name", "i_time"))
        .select(col("name"), fromB(col("i_time"), TimeStep(60L)).as("i_time"),
          round(col("value"), 6).as("value"))
        .presentSorted("name", "i_time")
    }, Sql(
      """SELECT event_type AS name,
         (CAST(floor(epoch(ts)/60) AS BIGINT) + off.o)*60 AS i_time,
         round(sum(value), 6) AS value
         FROM events CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS o) off
         GROUP BY 1,2 ORDER BY 1,2""")),

    // D3/D4: retention — drop buckets past the TTL horizon at read
    Query("ts_expire_day", (s, dir) => {
      val t = eventLog(s, dir, CountT, minuteTtl)
      val nowSec = events(s, dir).agg(max(unix_timestamp(col("ts")))).head().getLong(0)
      val kept = t.expired(nowSec.toDouble)
        .select(col("name"), col("i_time"), col("value"))
      CountT.aggregate(kept, Seq("name", "i_time"))
        .select(col("name"), fromB(col("i_time"), TimeStep(60L)).as("i_time"),
          round(col("value"), 6).as("value"))
        .presentSorted("name", "i_time")
    }, Sql(
      """WITH mx AS (SELECT CAST(floor(epoch(max(ts))/60) AS BIGINT) AS nb FROM events)
         SELECT event_type AS name,
         CAST(floor(epoch(ts)/60) AS BIGINT)*60 AS i_time,
         round(sum(value), 6) AS value
         FROM events, mx
         WHERE CAST(floor(epoch(ts)/60) AS BIGINT) > mx.nb - 1440
         GROUP BY 1,2 ORDER BY 1,2""")),

    // G8: properties — first/last bucket timestamps per stat
    Query("ts_properties_minute", (s, dir) => {
      val t = eventLog(s, dir, CountT, minuteOnly)
      presentSorted(
        t.log.filter(col("interval") === "minute")
          .groupBy("name")
          .agg(fromB(min(col("i_time")), TimeStep(60L)).as("first"),
            fromB(max(col("i_time")), TimeStep(60L)).as("last")),
        col("name"))
    }, Sql(
      """SELECT event_type AS name,
         min(CAST(floor(epoch(ts)/60) AS BIGINT))*60 AS first,
         max(CAST(floor(epoch(ts)/60) AS BIGINT))*60 AS last
         FROM events GROUP BY 1 ORDER BY 1""")),

    // G9: list — all stat names
    Query("ts_list", (s, dir) =>
      presentSorted(
        events(s, dir).select(col("event_type").as("name")).distinct(),
        col("name")),
    Sql(
      "SELECT DISTINCT event_type AS name FROM events ORDER BY 1")),

    // §1.2: Gregorian weekly %Y%U bucket (custom weekly expression)
    Query("ts_gregorian_weekly", (s, dir) => {
      val t = eventLog(s, dir, CountT, Map("weekly" -> IntervalSpec(TimeStep("weekly"))))
      val prepared = t.log.filter(col("interval") === "weekly")
        .select(col("name"), col("i_time"), col("value"))
      CountT.aggregate(prepared, Seq("name", "i_time"))
        .select(col("name"), col("i_time").as("bucket"), round(col("value"), 6).as("value"))
        .presentSorted("name", "bucket")
    }, Sql(
      """SELECT event_type AS name,
         CAST(strftime(ts, '%Y%U') AS BIGINT) AS bucket,
         round(sum(value), 6) AS value
         FROM events GROUP BY 1,2 ORDER BY 1,2""")),

    // I7: count default increment (insert with no value counts 1)
    Query("ts_gregorian_daily_count", (s, dir) => {
      val t = eventLog(s, dir, CountT, Map("daily" -> IntervalSpec(TimeStep("daily"))),
        value = lit(1.0))
      val prepared = t.log.filter(col("interval") === "daily")
        .select(col("name"), col("i_time"), col("value"))
      CountT.aggregate(prepared, Seq("name", "i_time"))
        .select(col("name"), col("i_time").as("bucket"), round(col("value"), 6).as("value"))
        .presentSorted("name", "bucket")
    }, Sql(
      """SELECT event_type AS name,
         CAST(strftime(ts, '%Y%m%d') AS BIGINT) AS bucket,
         round(CAST(count(*) AS DOUBLE), 6) AS value
         FROM events GROUP BY 1,2 ORDER BY 1,2""")),

    // §2.10/G4: CUSTOM condense callable — the README variance example
    // (README.rst:670-704): fold each hour's minute-resolution series
    // into its population variance. Exercises the staged hook pipeline
    // end-to-end through series().
    Query("ts_condense_variance", (s, dir) => {
      val t = eventLog(s, dir, SeriesT, hourFine)
      val variance: Column => Column = entries => {
        val xs = flatten(org.apache.spark.sql.functions.transform(entries, e => e("value")))
        val n = size(xs).cast(DoubleType)
        val mean = aggregate(xs, lit(0.0), (a, x) => a + x) / n
        aggregate(xs, lit(0.0), (a, x) => a + (x - mean) * (x - mean)) / n
      }
      t.series(Seq("click"), "hour", start = Some(START.toDouble), steps = Some(720),
        condense = true, hooks = ReadHooks(condense = Some(variance)))
        .select(col("i_time"), round(col("value"), 6).as("value"))
    }, Sql(
      """SELECT CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS i_time,
         round(var_pop(value), 6) AS value
         FROM events WHERE event_type='click'
           AND CAST(floor(epoch(ts)/3600) AS BIGINT) BETWEEN 473352 AND 474071
         GROUP BY 1 ORDER BY 1""")),

    // §2.10/G7: CUSTOM join_rows — cross-series set intersection
    // (README.rst:711-714): values seen in BOTH click and view per hour.
    Query("ts_join_intersect_hour", (s, dir) => {
      val t = eventLog(s, dir, SetT, Map("hour" -> IntervalSpec(TimeStep(3600L))))
      val intersect: Column => Column = rows =>
        array_sort(array_intersect(
          coalesce(try_element_at(rows, lit(1)), array().cast(ArrayType(DoubleType))),
          coalesce(try_element_at(rows, lit(2)), array().cast(ArrayType(DoubleType)))))
      t.series(Seq("click", "view"), "hour", start = Some(START.toDouble), steps = Some(720),
        hooks = ReadHooks(joinRows = Some(intersect)))
        .select(col("i_time"),
          coalesce(size(col("value")), lit(0)).cast(LongType).as("n_common"))
    }, Sql(
      """WITH axis AS (SELECT unnest(generate_series(473352, 474071)) AS b),
         c AS (SELECT DISTINCT CAST(floor(epoch(ts)/3600) AS BIGINT) AS b, value
               FROM events WHERE event_type='click'),
         v AS (SELECT DISTINCT CAST(floor(epoch(ts)/3600) AS BIGINT) AS b, value
               FROM events WHERE event_type='view'),
         d AS (SELECT b, count(*) AS n
               FROM (SELECT * FROM c INTERSECT SELECT * FROM v) GROUP BY 1)
         SELECT axis.b*3600 AS i_time, CAST(coalesce(d.n, 0) AS BIGINT) AS n_common
         FROM axis LEFT JOIN d USING(b) ORDER BY 1""")),

    // §1.3: StringType set end-to-end (kairos values are loosely typed,
    // README.rst:41-45) — distinct user keys per hour per stat.
    Query("ts_set_string_hour", (s, dir) => {
      val t = new Timeseries(s, SetT, Map("hour" -> IntervalSpec(TimeStep(3600L))),
        valueType = StringType)
      t.attach(t.bucketize(events(s, dir), col("event_type"), col("ts"),
        concat(lit("u"), col("user_id").cast(StringType)), col("event_id")))
      grouped(t, "hour")
        .select(col("name"), fromB(col("i_time"), TimeStep(3600L)).as("i_time"),
          size(col("value")).cast(LongType).as("n_vals"),
          array_min(col("value")).as("min_v"),
          array_max(col("value")).as("max_v"))
        .presentSorted("name", "i_time")
    }, Sql(
      """SELECT event_type AS name,
         CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS i_time,
         count(DISTINCT 'u' || CAST(user_id AS VARCHAR)) AS n_vals,
         min('u' || CAST(user_id AS VARCHAR)) AS min_v,
         max('u' || CAST(user_id AS VARCHAR)) AS max_v
         FROM events GROUP BY 1,2 ORDER BY 1,2""")),

    // §1.3/P2/P3: StringType gauge with write_func + read_func casts
    // (timeseries.py:365-366): last user key per hour, decorated on read.
    Query("ts_gauge_string_hour", (s, dir) => {
      val t = new Timeseries(s, GaugeT, Map("hour" -> IntervalSpec(TimeStep(3600L))),
        valueType = StringType,
        readFunc = v => concat(v, lit("!")),
        writeFunc = v => concat(lit("u"), v.cast(StringType)))
      t.attach(t.bucketize(events(s, dir), col("event_type"), col("ts"),
        col("user_id"), col("event_id")))
      grouped(t, "hour")
        .select(col("name"), fromB(col("i_time"), TimeStep(3600L)).as("i_time"), col("value"))
        .presentSorted("name", "i_time")
    }, Sql(
      """SELECT event_type AS name,
         CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS i_time,
         arg_max('u' || CAST(user_id AS VARCHAR), event_id) || '!' AS value
         FROM events GROUP BY 1,2 ORDER BY 1,2""")),

    // §1.2: Gregorian yearly bucket end-to-end
    Query("ts_gregorian_yearly", (s, dir) => {
      val t = eventLog(s, dir, CountT, Map("yearly" -> IntervalSpec(TimeStep("yearly"))))
      val prepared = t.log.filter(col("interval") === "yearly")
        .select(col("name"), col("i_time"), col("value"))
      CountT.aggregate(prepared, Seq("name", "i_time"))
        .select(col("name"), col("i_time").as("bucket"), round(col("value"), 6).as("value"))
        .presentSorted("name", "bucket")
    }, Sql(
      """SELECT event_type AS name,
         CAST(strftime(ts, '%Y') AS BIGINT) AS bucket,
         round(sum(value), 6) AS value
         FROM events GROUP BY 1,2 ORDER BY 1,2""")),

    // D1: delete(name) — log rewrite drops the stat everywhere
    Query("ts_delete_name", (s, dir) => {
      val t = eventLog(s, dir, CountT, minuteOnly)
      t.delete("click")
      grouped(t, "minute")
        .select(col("name"), fromB(col("i_time"), TimeStep(60L)).as("i_time"),
          round(col("value"), 6).as("value"))
        .presentSorted("name", "i_time")
    }, Sql(
      """SELECT event_type AS name,
         CAST(floor(epoch(ts)/60) AS BIGINT)*60 AS i_time,
         round(sum(value), 6) AS value
         FROM events WHERE event_type <> 'click'
         GROUP BY 1,2 ORDER BY 1,2""")),

    // I12: write-time TTL guard — rows already past the retention
    // horizon are dropped AT WRITE (redis_backend.py:146-148), not
    // carried and re-filtered forever
    Query("ts_write_ttl_minute", (s, dir) => {
      val t = new Timeseries(s, CountT, minuteTtl)
      val nowSec = events(s, dir).agg(max(unix_timestamp(col("ts")))).head().getLong(0)
      val log = t.bucketize(events(s, dir), col("event_type"), col("ts"),
        col("value"), col("event_id"), guardNow = Some(nowSec.toDouble))
      val prepared = log.select(col("name"), col("i_time"), col("value"))
      CountT.aggregate(prepared, Seq("name", "i_time"))
        .select(col("name"), fromB(col("i_time"), TimeStep(60L)).as("i_time"),
          round(col("value"), 6).as("value"))
        .presentSorted("name", "i_time")
    }, Sql(
      """WITH mx AS (SELECT CAST(floor(epoch(max(ts))/60) AS BIGINT) AS nb FROM events)
         SELECT event_type AS name,
         CAST(floor(epoch(ts)/60) AS BIGINT)*60 AS i_time,
         round(sum(value), 6) AS value
         FROM events, mx
         WHERE CAST(floor(epoch(ts)/60) AS BIGINT) >= mx.nb - 1440
         GROUP BY 1,2 ORDER BY 1,2""")),

    // T5 with variable Gregorian step: monthly rate (per-second)
    Query("ts_gregorian_monthly_rate", (s, dir) => {
      val t = eventLog(s, dir, CountT, Map("monthly" -> IntervalSpec(TimeStep("monthly"))))
      val prepared = t.log.filter(col("interval") === "monthly")
        .select(col("name"), col("i_time"), col("value"))
      CountT.aggregate(prepared, Seq("name", "i_time"))
        .select(col("name"), col("i_time").as("bucket"),
          round(CountT.transformExpr("rate", col("value"),
            TimeColumns.stepSize(col("i_time"), TimeStep("monthly"))).get, 6).as("rate"))
        .presentSorted("name", "bucket")
    }, Sql(
      """SELECT event_type AS name,
         CAST(strftime(date_trunc('month', ts), '%Y%m') AS BIGINT) AS bucket,
         round(sum(value) / (epoch(date_trunc('month', ts) + INTERVAL 1 MONTH)
           - epoch(date_trunc('month', ts))), 6) AS rate
         FROM events GROUP BY 1, date_trunc('month', ts) ORDER BY 1,2""")),

    // §2.4: approximate distinct (HLL) — the documented approximate
    // variant of the set type for 100 TB cardinalities. Error bound vs
    // exact is asserted in HooksSpec; the driver records rows-only.
    Query("ts_set_approx_hour", (s, dir) => {
      val t = eventLog(s, dir, SetT, hourFine)
      t.log.filter(col("interval") === "hour")
        .groupBy(col("name"), col("i_time"))
        .agg(approx_count_distinct(col("value")).as("approx_card"))
        .select(col("name"), fromB(col("i_time"), TimeStep(3600L)).as("i_time"),
          col("approx_card"))
        .presentSorted("name", "i_time")
    }, RowsOnly("graft.HooksSpec")),

    // TS ANOMALY: rolling z-score outlier detection over the hourly
    // count series (graft.ops.Features.zscoreAnomaly) — each bucket
    // scored against its trailing 24 buckets excluding itself, one
    // Exchange+Sort. DuckDB-oracled against identical window SQL
    Query("ts_anomaly_hour", (s, dir) => {
      val t = eventLog(s, dir, CountT, Map("hour" -> IntervalSpec(TimeStep(3600L))))
      Features.zscoreAnomaly(grouped(t, "hour"), Seq("name"), "i_time",
          col("value"), nRows = 24, threshold = 3.0)
        .select(col("name"), fromB(col("i_time"), TimeStep(3600L)).as("i_time"),
          round(col("value"), 6).as("value"),
          round(col("base_mean"), 6).as("base_mean"),
          round(col("base_std"), 6).as("base_std"),
          round(col("z"), 6).as("z"),
          col("is_anomaly").cast(LongType).as("is_anomaly"))
        .presentSorted("name", "i_time")
    }, Sql(
      """WITH h AS (SELECT event_type AS name,
                    CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS i_time,
                    sum(value) AS v
             FROM events GROUP BY 1,2)
         SELECT name, i_time, round(v, 6) AS value,
           round(avg(v) OVER f, 6) AS base_mean,
           round(stddev_samp(v) OVER f, 6) AS base_std,
           round(CASE WHEN count(v) OVER f = 24 AND stddev_samp(v) OVER f > 0
                 THEN (v - avg(v) OVER f) / (stddev_samp(v) OVER f) END, 6) AS z,
           CAST(coalesce(
             abs(CASE WHEN count(v) OVER f = 24 AND stddev_samp(v) OVER f > 0
                 THEN (v - avg(v) OVER f) / (stddev_samp(v) OVER f) END) >= 3.0,
             false) AS BIGINT) AS is_anomaly
         FROM h
         WINDOW f AS (PARTITION BY name ORDER BY i_time
                      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
         ORDER BY 1, 2""")),

    // SEASONAL ANOMALY: z-score vs the SAME HOUR-OF-DAY's trailing
    // history (graft.ops.Features.seasonalAnomaly) — the phase joins
    // the partition key, so a daily peak is normal at peak hour and
    // anomalous at 3 am; still one Exchange+Sort
    Query("ts_seasonal_anomaly_hour", (s, dir) => {
      val t = eventLog(s, dir, CountT, Map("hour" -> IntervalSpec(TimeStep(3600L))))
      Features.seasonalAnomaly(grouped(t, "hour"), Seq("name"), "i_time",
          col("value"), period = 24L, nRows = 5, threshold = 2.5)
        .select(col("name"), fromB(col("i_time"), TimeStep(3600L)).as("i_time"),
          (col("phase") * 3600).as("phase"),
          round(col("value"), 6).as("value"),
          round(col("base_mean"), 6).as("base_mean"),
          round(col("base_std"), 6).as("base_std"),
          round(col("z"), 6).as("z"),
          col("is_anomaly").cast(LongType).as("is_anomaly"))
        .presentSorted("name", "i_time")
    }, Sql(
      """WITH h AS (SELECT event_type AS name,
                    CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS i_time,
                    sum(value) AS v
             FROM events GROUP BY 1,2)
         SELECT name, i_time, i_time % 86400 AS phase,
           round(v, 6) AS value,
           round(avg(v) OVER f, 6) AS base_mean,
           round(stddev_samp(v) OVER f, 6) AS base_std,
           round(CASE WHEN count(v) OVER f = 5 AND stddev_samp(v) OVER f > 0
                 THEN (v - avg(v) OVER f) / (stddev_samp(v) OVER f) END, 6) AS z,
           CAST(coalesce(
             abs(CASE WHEN count(v) OVER f = 5 AND stddev_samp(v) OVER f > 0
                 THEN (v - avg(v) OVER f) / (stddev_samp(v) OVER f) END) >= 2.5,
             false) AS BIGINT) AS is_anomaly
         FROM h
         WINDOW f AS (PARTITION BY name, i_time % 86400 ORDER BY i_time
                      ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
         ORDER BY 1, 2""")),

    // TS INTERPOLATE: linear gap fill of a sparse gauge series over a
    // dense day axis (graft.ops.Features.interpolateLinear) — interior
    // nulls become the line through their non-null neighbors, edges
    // stay null. DuckDB-oracled via IGNORE NULLS window SQL
    Query("ts_interpolate_minute", (s, dir) => {
      val t = eventLog(s, dir, GaugeT, minuteOnly)
      val axis = s.range(28401120L, 28402560L)
        .select(lit("error").as("name"), col("id").as("i_time"))
      val vals = grouped(t, "minute").filter(col("name") === "error")
      val grid = axis.join(broadcast(vals), Seq("name", "i_time"), "left")
      Features.interpolateLinear(grid, Seq("name"), "i_time", col("value"))
        .select(col("name"), fromB(col("i_time"), TimeStep(60L)).as("i_time"),
          round(col("value"), 6).as("value"),
          round(col("filled"), 6).as("filled"),
          col("interpolated").cast(LongType).as("interpolated"))
        .presentSorted("i_time")
    }, Sql(
      """WITH axis AS (SELECT unnest(generate_series(28401120, 28402559)) AS b),
         d AS (SELECT CAST(floor(epoch(ts)/60) AS BIGINT) AS b,
                      arg_max(value, event_id) AS v
               FROM events WHERE event_type='error' GROUP BY 1),
         g AS (SELECT axis.b, d.v FROM axis LEFT JOIN d USING(b)),
         w AS (SELECT b, v,
           last_value(v IGNORE NULLS) OVER wb AS pv,
           last_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS)
             OVER wb AS pt,
           first_value(v IGNORE NULLS) OVER wf AS nv,
           first_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS)
             OVER wf AS nt
           FROM g
           WINDOW wb AS (ORDER BY b
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  wf AS (ORDER BY b
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
         SELECT 'error' AS name, b*60 AS i_time, round(v, 6) AS value,
           round(CASE WHEN v IS NOT NULL THEN v
                      WHEN pv IS NOT NULL AND nv IS NOT NULL
                      THEN pv + (nv - pv) * (b - pt) / CAST(nt - pt AS DOUBLE)
                 END, 6) AS filled,
           CAST((v IS NULL AND pv IS NOT NULL AND nv IS NOT NULL) AS BIGINT)
             AS interpolated
         FROM w ORDER BY 2""")),
  )
}
