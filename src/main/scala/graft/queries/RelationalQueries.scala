package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops._
import graft.queries.Oracle.{RowsOnly, Sql}
/** Relational and bench headliners (SURVEY.md §2.8: what Spark adds):
  * event analytics, TPC-H-shaped aggregates, column profiles and the
  * approximate sketches (HLL, count-min, bloom). */
object RelationalQueries {

  import graft.SparkEntry._

  val rows: Seq[Query] = Seq(

    // TPC-H Q1 shape: scan + filter + hash agg (pushdown + partial agg)
    Query("q1_pricing_summary", (s, dir) => {
      val li = table(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 4).as("sum_charge"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          round(avg(col("l_extendedprice")), 6).as("avg_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .presentSorted("l_returnflag", "l_linestatus")
    }, Sql(
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 4) AS sum_qty,
         round(sum(l_extendedprice), 4) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
         round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
         round(avg(l_quantity), 6) AS avg_qty,
         round(avg(l_extendedprice), 6) AS avg_price,
         round(avg(l_discount), 6) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY 1,2 ORDER BY 1,2""")),

    // TPC-H Q3 shape: broadcast dim join + shuffle join + top-k
    Query("q3_top_orders", (s, dir) => {
      val c = table(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") < to_timestamp(lit("1998-01-01")))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val li = table(s, dir, "lineitem")
        .filter(col("l_shipdate") > to_timestamp(lit("1998-01-01")))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      // broadcast the customer filter into orders FIRST so the shuffle
      // join's probe side is pre-shrunk (AQE won't reorder a written
      // join order; at scale this is the difference between shuffling
      // all orders and shuffling one segment's)
      li.join(o.join(broadcast(c), col("o_custkey") === col("c_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }, Sql(
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY 1,2,3
         ORDER BY revenue DESC, l_orderkey LIMIT 10""")),

    // §7.6: JSON prop extraction over the events stream (get_json_object
    // is codegen'd; the scan prunes to the two referenced columns)
    Query("events_props_json", (s, dir) =>
      events(s, dir)
        .select(col("event_type").as("name"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .groupBy("name")
        .agg(count(lit(1)).as("n"), round(avg(col("k")), 6).as("avg_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("name"),
    Sql(
      """SELECT event_type AS name, count(*) AS n,
         round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k,
         min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
         max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
         FROM events GROUP BY 1 ORDER BY 1""")),

    // top-k without global sort (TakeOrdered path)
    Query("events_top_users", (s, dir) =>
      events(s, dir)
        .groupBy("user_id")
        .agg(round(sum(col("value")), 6).as("total"))
        .orderBy(col("total").desc, col("user_id"))
        .limit(20),
    Sql(
      """SELECT user_id, round(sum(value), 6) AS total
         FROM events GROUP BY 1 ORDER BY total DESC, user_id LIMIT 20""")),

    // AS-OF join (attribution): each purchase event decorated with the
    // user's latest view value at-or-before it — the timeseries
    // operator Spark lacks, as one shuffle + one per-partition sort
    // (graft.ops.AsOf). DuckDB-oracled against its native ASOF LEFT
    // JOIN; right side pre-aggregated to unique (user, sec) so the
    // tie contract is engine-independent; second granularity keeps
    // both engines' timestamp arithmetic identical
    Query("events_asof_attrib", (s, dir) => {
      val ev = events(s, dir).withColumn("sec", unix_timestamp(col("ts")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("sec"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "sec").agg(max("value").as("view_value"))
      AsOf.joinAsOf(purchases, views, Seq("user_id"), "sec", Seq("view_value"))
        .orderBy("event_id")
    }, Sql(
      """WITH p AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
                    FROM events WHERE event_type = 'purchase'),
              v AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                           max(value) AS view_value
                    FROM events WHERE event_type = 'view' GROUP BY 1, 2)
         SELECT p.event_id, p.user_id, p.sec, v.view_value
         FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.sec >= v.sec
         ORDER BY p.event_id""")),

    // RANGE join (incident correlation): every click within ±2h of an
    // error by the same user — bucketed interval join (graft.ops
    // .RangeJoin): equality join on (user, 60s-bucket) + exact BETWEEN,
    // never the nested-loop Spark plans for a bare range predicate.
    // DuckDB-oracled against the plain BETWEEN join
    Query("events_range_correlate", (s, dir) => {
      val ev = events(s, dir).withColumn("sec", unix_timestamp(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("sec").as("x"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id"),
          (col("sec") - 7200).as("lo"), (col("sec") + 7200).as("hi"))
      // bucketWidth = the 14400s interval width: ≤ 2 replicas/interval
      RangeJoin.pointInInterval(clicks, errors, Seq("user_id"), "x", "lo", "hi",
        bucketWidth = 14400)
        .select("click_id", "error_id", "user_id")
        .orderBy("click_id", "error_id")
    }, Sql(
      """WITH c AS (SELECT event_id AS click_id, user_id,
                           CAST(floor(epoch(ts)) AS BIGINT) AS x
                    FROM events WHERE event_type = 'click'),
              e AS (SELECT event_id AS error_id, user_id,
                           CAST(floor(epoch(ts)) AS BIGINT) - 7200 AS lo,
                           CAST(floor(epoch(ts)) AS BIGINT) + 7200 AS hi
                    FROM events WHERE event_type = 'error')
         SELECT c.click_id, e.error_id, c.user_id
         FROM c JOIN e ON c.user_id = e.user_id AND c.x BETWEEN e.lo AND e.hi
         ORDER BY 1, 2""")),

    // SESSIONIZATION: gap-based sessions (30-min inactivity) per user —
    // one shuffle on user_id, windows + closing agg share the exchange
    // (graft.ops.Sessions). DuckDB-oracled against the identical
    // lag/running-sum window SQL; event_id tie-break makes equal-second
    // ordering engine-independent
    // pre-flight key-skew profile of a prospective shuffle key
    // (events.user_id): rows per md5 bucket — read before choosing
    // partitioning/AQE-skew/salting for a big join; md5 bucketing
    // keeps the profile engine-portable, so fully oracled
    Query("profile_key_skew", (s, dir) =>
      Profile.keySkew(events(s, dir), col("user_id"), buckets = 32)
        .presentSorted("bucket"),
    Sql(
      s"""SELECT ${hexValSql("md5(CAST(user_id AS VARCHAR))", 4)} % 32
           AS bucket, count(*) AS n_rows
         FROM events GROUP BY 1 ORDER BY 1""")),

    // RETENTION COHORTS: users grouped by first-seen day, activity
    // counted at day offsets — the classic product-analytics triangle
    // (kairos-adjacent event analytics the reference's bucket reads
    // feed into). Two aggregations: first-seen per user (map-side
    // combined min), then distinct users per (cohort, offset)
    Query("events_retention_cohorts", (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val first = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      ev.join(first, Seq("user_id"))
        .select(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).as("day_offset"),
          col("user_id"))
        .groupBy("cohort_day", "day_offset")
        .agg(countDistinct(col("user_id")).as("n_users"))
        .presentSorted("cohort_day", "day_offset")
    }, Sql(
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
         f AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1)
         SELECT f.cohort_day,
           CAST(date_diff('day', f.cohort_day, ev.day) AS INT) AS day_offset,
           count(DISTINCT ev.user_id) AS n_users
         FROM ev JOIN f USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""")),

    Query("events_sessionize", (s, dir) => {
      val ev = events(s, dir).withColumn("sec", unix_timestamp(col("ts")))
      Sessions.sessionize(ev, Seq("user_id"), "sec", gapSec = 1800,
          tieBreak = Some("event_id"))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"), min("sec").as("start_sec"),
          max("sec").as("end_sec"), round(sum("value"), 6).as("total_value"))
        .orderBy("user_id", "session_idx")
    }, Sql(
      """WITH o AS (SELECT user_id, event_id, value,
                           CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
              l AS (SELECT *, lag(sec) OVER
                      (PARTITION BY user_id ORDER BY sec, event_id) AS prev FROM o),
              s AS (SELECT *, CAST(sum(CASE WHEN prev IS NULL OR sec - prev > 1800
                                            THEN 1 ELSE 0 END) OVER
                      (PARTITION BY user_id ORDER BY sec, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS session_idx
                    FROM l)
         SELECT user_id, session_idx, count(*) AS n_events,
                min(sec) AS start_sec, max(sec) AS end_sec,
                round(sum(value), 6) AS total_value
         FROM s GROUP BY 1, 2 ORDER BY 1, 2""")),

    // FUNNEL: ordered view→click→purchase reach per user (strict
    // in-order contract; graft.ops.Sessions.funnel) — chained running
    // windows over one sort. DuckDB-oracled against the same chained
    // window construction
    Query("events_funnel", (s, dir) => {
      val ev = events(s, dir).withColumn("sec", unix_timestamp(col("ts")))
      Sessions.funnel(ev, Seq("user_id"), "sec", col("event_type"),
          Seq("view", "click", "purchase"), tieBreak = Some("event_id"))
        .presentSorted("user_id")
    }, Sql(
      """WITH o AS (SELECT user_id, event_id, event_type,
                           CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
              w1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN sec END) OVER
                       (PARTITION BY user_id ORDER BY sec, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r0
                     FROM o),
              w2 AS (SELECT *, min(CASE WHEN event_type = 'click'
                                         AND r0 IS NOT NULL AND sec >= r0
                                        THEN sec END) OVER
                       (PARTITION BY user_id ORDER BY sec, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r1
                     FROM w1),
              w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase'
                                         AND r1 IS NOT NULL AND sec >= r1
                                        THEN sec END) OVER
                       (PARTITION BY user_id ORDER BY sec, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r2
                     FROM w2)
         SELECT user_id, min(r0) AS t_view, min(r1) AS t_click,
                min(r2) AS t_purchase,
                (CASE WHEN min(r0) IS NOT NULL THEN 1 ELSE 0 END
                 + CASE WHEN min(r0) IS NOT NULL AND min(r1) IS NOT NULL
                        THEN 1 ELSE 0 END
                 + CASE WHEN min(r0) IS NOT NULL AND min(r1) IS NOT NULL
                         AND min(r2) IS NOT NULL THEN 1 ELSE 0 END) AS depth
         FROM w3 GROUP BY 1 ORDER BY 1""")),

    // BLOOM BITMAP INTERNALS: the (word, bits) table fit over the
    // document ids — md5-probe positions, 32-bit words, bit_or fold
    // all rebuilt verbatim by the DuckDB oracle, proving the filter
    // is bit-for-bit engine-portable (graft.ops.Bloom.fit)
    Query("bloom_words", (s, dir) =>
      Bloom.fit(table(s, dir, "documents"), col("doc_id"),
          mBits = 4096L, k = 3, seed = 1L)
        .orderBy("word"),
    Sql(
      """WITH pos AS (SELECT
           (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)
              || '#1:' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)) % 4096 AS p
           FROM documents CROSS JOIN (SELECT unnest(range(3)) AS i) u)
         SELECT p // 32 AS word,
           bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
         FROM pos GROUP BY 1 ORDER BY 1""")),

    // COUNT-MIN SKETCH: fixed-size token-frequency estimation
    // (graft.ops.Sketch) — md5 probe grid is cell-for-cell
    // engine-portable; the query pits the estimate against the true
    // count for the top-50 tokens (total order makes the cut exact)
    Query("cms_token_freq", (s, dir) => {
      val toks = table(s, dir, "documents")
        .select(explode(Dedup.tokens(col("text"))).as("token"))
      val sketch = Sketch.countMinFit(toks, col("token"), depth = 4,
        width = 2048L, seed = 2L)
      val top = toks.groupBy("token").agg(count(lit(1)).as("n_true"))
        .orderBy(col("n_true").desc, col("token")).limit(50)
      Sketch.countMinEstimate(top, col("token"), sketch, depth = 4,
          width = 2048L, seed = 2L)
        .presentSorted(col("n_true").desc, col("token"))
    }, Sql(
      """WITH tok AS (SELECT unnest(regexp_split_to_array(lower(trim(text)),
             '\s+')) AS token FROM documents),
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

    // INCREMENTAL CARDINALITY: per-source distinct-token estimates
    // from persisted-mergeable HLL registers (graft.ops.Sketch over
    // Spark's DataSketches natives) — rows-only (sketch binaries
    // aren't engine-portable); estimate accuracy, shard-merge
    // identity, and streaming equivalence measured in SketchSpec
    Query("hll_tokens_by_source", (s, dir) => {
      val toks = table(s, dir, "documents")
        .select(col("source"), explode(Dedup.tokens(col("text"))).as("token"))
      Sketch.hllEstimate(Sketch.hllFit(toks, col("token"), Seq("source")),
          Seq("source"))
        .presentSorted("source")
    }, RowsOnly("graft.ops.SketchSpec")),

    // ROLLING FEATURES: per-user lag/delta/rolling-window stats
    // (graft.ops.Features) — stacked windows over one Exchange+Sort.
    // DuckDB-oracled against identical window SQL
    Query("events_rolling_features", (s, dir) => {
      val ev = events(s, dir).withColumn("sec", unix_timestamp(col("ts")))
      Features.rolling(ev, Seq("user_id"), "sec", col("value"), nRows = 3,
          tieBreak = Some("event_id"))
        .select(col("user_id"), col("event_id"),
          round(col("prev_value"), 6).as("prev_value"),
          round(col("delta"), 6).as("delta"),
          round(col("roll_mean"), 6).as("roll_mean"),
          round(col("roll_min"), 6).as("roll_min"),
          round(col("roll_max"), 6).as("roll_max"), col("seq"))
        .orderBy("user_id", "seq")
    }, Sql(
      """WITH o AS (SELECT user_id, event_id, value,
                           CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events)
         SELECT user_id, event_id,
           round(lag(value) OVER w, 6) AS prev_value,
           round(value - lag(value) OVER w, 6) AS delta,
           round(avg(value) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
             AS roll_mean,
           round(min(value) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
             AS roll_min,
           round(max(value) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
             AS roll_max,
           CAST(row_number() OVER w AS BIGINT) AS seq
         FROM o
         WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
         ORDER BY user_id, seq""")),

    // DISTRIBUTION PROFILE: exact interpolated quantiles of event
    // values per type (Spark `percentile` == DuckDB `quantile_cont`,
    // both p·(n−1) linear interpolation) — the column-profiling
    // primitive for corpus curation dashboards
    // hour-of-day seasonality profile per event type — the diurnal
    // fingerprint anomaly baselines and capacity plans read first
    Query("events_hourly_profile", (s, dir) =>
      events(s, dir)
        .groupBy(col("event_type").as("name"),
          hour(col("ts")).cast("long").as("hour_of_day"))
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 6).as("mean_value"))
        .presentSorted("name", "hour_of_day"),
    Sql(
      """SELECT event_type AS name,
           CAST(date_part('hour', ts) AS BIGINT) AS hour_of_day,
           count(*) AS n, round(avg(value), 6) AS mean_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // winsorized robust stats per type: clip at the [p05, p95] cuts
    // and compare raw vs clipped means — the outlier-robust
    // aggregation a metrics pipeline uses when a bad sensor can put
    // ±1e9 in `value`. Cuts are floor-quantized BEFORE comparison:
    // interpolated quantiles can land exactly on the 2-decimal value
    // grid, where a 1-ulp engine difference would flip a clip count
    Query("events_value_winsorized", (s, dir) => {
      val ev = events(s, dir).select(col("event_type").as("name"),
        col("value"))
      val q = (c: Column) => floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
      val cuts = ev.groupBy("name").agg(
        q(expr("percentile(value, 0.05)")).as("__lo"),
        q(expr("percentile(value, 0.95)")).as("__hi"))
      ev.join(broadcast(cuts), Seq("name"))
        .select(col("name"), col("value"), col("__lo"), col("__hi"),
          greatest(col("__lo"), least(col("__hi"), col("value")))
            .as("__w"))
        .groupBy("name")
        .agg(round(avg(col("__w")), 6).as("wins_mean"),
          round(avg(col("value")), 6).as("raw_mean"),
          sum((col("value") > col("__hi") || col("value") < col("__lo"))
            .cast("long")).as("n_clipped"),
          count(lit(1)).as("n"))
        .presentSorted("name")
    }, Sql(
      """WITH c AS (SELECT event_type AS name,
           floor(quantile_cont(value, 0.05) * CAST(1000000 AS DOUBLE)
             + CAST(0.5 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS lo,
           floor(quantile_cont(value, 0.95) * CAST(1000000 AS DOUBLE)
             + CAST(0.5 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS hi
           FROM events GROUP BY 1),
         j AS (SELECT e.event_type AS name, e.value, c.lo, c.hi,
           greatest(c.lo, least(c.hi, e.value)) AS w
           FROM events e JOIN c ON e.event_type = c.name)
         SELECT name, round(avg(w), 6) AS wins_mean,
           round(avg(value), 6) AS raw_mean,
           CAST(sum(CASE WHEN value > hi OR value < lo THEN 1 ELSE 0 END)
             AS BIGINT) AS n_clipped,
           count(*) AS n
         FROM j GROUP BY 1 ORDER BY 1""")),

    Query("events_value_quantiles", (s, dir) =>
      events(s, dir).groupBy(col("event_type").as("name"))
        .agg(
          round(expr("percentile(value, 0.25)"), 6).as("p25"),
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.75)"), 6).as("p75"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"),
          round(avg(col("value")), 6).as("mean"),
          count(lit(1)).as("n"))
        .presentSorted("name"),
    Sql(
      """SELECT event_type AS name,
           round(quantile_cont(value, 0.25), 6) AS p25,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.75), 6) AS p75,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(avg(value), 6) AS mean, count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1""")),

    // the scale path for quantiles: Spark's built-in Greenwald-Khanna
    // sketch (approx_percentile) — mergeable partial state instead of
    // the exact percentile's per-group sorted buffer, the same
    // exact→approx pairing as ts_set_card_hour→ts_set_approx_hour.
    // Rows-only (the sketch is engine-specific); rank-error measured
    // against the exact operator in FeaturesSpec
    Query("events_value_quantiles_approx", (s, dir) =>
      events(s, dir).groupBy(col("event_type").as("name"))
        .agg(
          round(expr("approx_percentile(value, 0.25, 10000)"), 6).as("p25"),
          round(expr("approx_percentile(value, 0.5, 10000)"), 6).as("p50"),
          round(expr("approx_percentile(value, 0.75, 10000)"), 6).as("p75"),
          round(expr("approx_percentile(value, 0.9, 10000)"), 6).as("p90"),
          round(avg(col("value")), 6).as("mean"),
          count(lit(1)).as("n"))
        .presentSorted("name"),
    RowsOnly("graft.ops.FeaturesSpec")),

    // TABLE PROFILE: schema-driven per-column stats in one pass
    // (graft.ops.Profile) — exact distincts here so the DuckDB oracle
    // hash-matches; production default is HLL
    Query("profile_orders", (s, dir) =>
      Profile.table(table(s, dir, "orders"), exactDistinct = true),
    Sql(
      """WITH t AS (SELECT * FROM orders)
         SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
           count(*) - count(o_orderkey) AS n_null,
           count(DISTINCT o_orderkey) AS n_distinct,
           round(CAST(min(o_orderkey) AS DOUBLE), 6) AS min_num,
           round(CAST(max(o_orderkey) AS DOUBLE), 6) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
         FROM t
         UNION ALL
         SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
           count(DISTINCT o_custkey),
           round(CAST(min(o_custkey) AS DOUBLE), 6),
           round(CAST(max(o_custkey) AS DOUBLE), 6), NULL, NULL FROM t
         UNION ALL
         SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus), NULL, NULL,
           min(o_orderstatus), max(o_orderstatus) FROM t
         UNION ALL
         SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice),
           round(CAST(min(o_totalprice) AS DOUBLE), 6),
           round(CAST(max(o_totalprice) AS DOUBLE), 6), NULL, NULL FROM t
         UNION ALL
         SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
           count(DISTINCT o_orderdate),
           round(CAST(floor(epoch(min(o_orderdate))) AS DOUBLE), 6),
           round(CAST(floor(epoch(max(o_orderdate))) AS DOUBLE), 6),
           NULL, NULL FROM t
         UNION ALL
         SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority), NULL, NULL,
           min(o_orderpriority), max(o_orderpriority) FROM t
         ORDER BY col_name""")),

    // EQUI-DEPTH HISTOGRAM: exact ntile cut on (value, tiebreak) —
    // the audit path; the approx_percentile scale path is spec-tested
    // (ProfileSpec) since sketch bins aren't engine-portable
    Query("profile_hist_totalprice", (s, dir) =>
      Profile.histogram(table(s, dir, "orders"), col("o_totalprice"),
        col("o_orderkey"), buckets = 8, exact = true),
    Sql(
      """WITH r AS (SELECT CAST(o_totalprice AS DOUBLE) AS v,
           CAST(ntile(8) OVER (ORDER BY CAST(o_totalprice AS DOUBLE),
             o_orderkey) AS BIGINT) AS bucket
           FROM orders WHERE o_totalprice IS NOT NULL)
         SELECT bucket, count(*) AS n, count(DISTINCT v) AS nd,
           round(min(v), 6) AS lo, round(max(v), 6) AS hi
         FROM r GROUP BY bucket ORDER BY bucket""")),

    // HEAVY HITTERS: exact per-column top-k values by frequency via
    // the salted two-stage funnel; (n desc, v asc) total order makes
    // the cut engine-independent
    Query("profile_heavy_hitters", (s, dir) =>
      Profile.heavyHitters(table(s, dir, "documents"),
        Seq("source", "lang", "n_chars"), k = 5),
    Sql(
      """WITH p AS (
           SELECT 'source' AS col_name, source AS v FROM documents
             WHERE source IS NOT NULL
           UNION ALL SELECT 'lang', lang FROM documents
             WHERE lang IS NOT NULL
           UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR)
             FROM documents WHERE n_chars IS NOT NULL),
         c AS (SELECT col_name, v, count(*) AS n FROM p GROUP BY 1, 2),
         r AS (SELECT col_name, v, n,
           CAST(row_number() OVER (PARTITION BY col_name
             ORDER BY n DESC, v) AS BIGINT) AS "rank" FROM c)
         SELECT col_name, v, n, "rank" FROM r WHERE "rank" <= 5
         ORDER BY col_name, "rank"""")),
  )
}
