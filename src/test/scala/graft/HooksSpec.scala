package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.time._

/** Golden tests for the per-call read hooks (reference README.rst:
  * 640-731 + timeseries.py:575-580,643-652) and the retention fixes:
  * custom condense (variance example), custom collapse, join_rows
  * (set intersection example), process_row, write-time TTL guard,
  * delete/delete_all buffer semantics, and the Gregorian yearly path.
  */
class HooksSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val T0 = 500000L * 3600L
  def Td(t: Long): Double = (T0 + t).toDouble

  val minuteHour: Map[String, IntervalSpec] = Map(
    "minute" -> IntervalSpec(TimeStep(60L), Some(5), None),
    "hour"   -> IntervalSpec(TimeStep(3600L), None, Some(TimeStep(60L))))

  // README.rst:689-691 — the variance example over a series bucket
  val variance: Column => Column = entries => {
    val xs = flatten(F.transform(entries, e => e("value")))
    val n = size(xs).cast(DoubleType)
    val mean = F.aggregate(xs, lit(0.0), (a, x) => a + x) / n
    F.aggregate(xs, lit(0.0), (a, x) => a + (x - mean) * (x - mean)) / n
  }

  test("custom condense callable: variance of an hour of fine data (README.rst:670-704)") {
    val t = new Timeseries(spark, SeriesT, minuteHour)
    // values 1,2,3,4 spread over two minutes of one hour
    t.insert("v", 1.0, Td(10)); t.insert("v", 2.0, Td(20))
    t.insert("v", 3.0, Td(70)); t.insert("v", 4.0, Td(80))
    val got = t.get(Seq("v"), "hour", Td(0), condense = true,
      hooks = ReadHooks(condense = Some(variance))).collect()
    assert(got.length === 1 && got.head.getLong(0) === T0)
    assert(math.abs(got.head.getDouble(1) - 1.25) < 1e-9) // var([1,2,3,4]) = 1.25
  }

  test("custom collapse callable; collapse=true reuses custom condense (README.rst:725-731)") {
    val t = new Timeseries(spark, SeriesT, minuteHour)
    for (i <- Seq(1L, 2L, 3L)) t.insert("c", i.toDouble, Td(i * 10))       // hour 0
    for (i <- Seq(5L, 7L)) t.insert("c", i.toDouble, Td(3600 + i * 10))    // hour 1
    // custom collapse: count of interval rows that had data
    val nRows: Column => Column = entries => size(entries).cast(DoubleType)
    val c1 = t.series(Seq("c"), "hour", start = Some(Td(0)), steps = Some(2),
      collapse = true, hooks = ReadHooks(collapse = Some(nRows))).collect().head
    assert(c1.getLong(0) === T0 && c1.getDouble(1) === 2.0)
    // collapse=true + custom CONDENSE and no custom collapse: the
    // condense callable is used for the collapse pass too (README.rst:
    // 729-731). Like the reference (duck typing), the callable must
    // accept both shapes — entry counting is shape-agnostic.
    val nEntries: Column => Column = entries => size(entries).cast(DoubleType)
    val c2 = t.series(Seq("c"), "hour", start = Some(Td(0)), steps = Some(2),
      collapse = true, hooks = ReadHooks(condense = Some(nEntries))).collect().head
    // condense: hour0 -> 1 extant minute bucket, hour1 -> 2; collapse
    // re-applies the fn over the two condensed rows -> 2
    assert(c2.getLong(0) === T0 && c2.getDouble(1) === 2.0)
  }

  test("custom join_rows: cross-series set intersection (README.rst:711-714)") {
    val t = new Timeseries(spark, SetT, minuteHour)
    t.insert("a", 1.0, Td(10)); t.insert("a", 2.0, Td(20)); t.insert("a", 3.0, Td(30))
    t.insert("b", 2.0, Td(15)); t.insert("b", 3.0, Td(25)); t.insert("b", 9.0, Td(35))
    val intersect: Column => Column = rows =>
      array_sort(array_intersect(
        coalesce(try_element_at(rows, lit(1)), array().cast(ArrayType(DoubleType))),
        coalesce(try_element_at(rows, lit(2)), array().cast(ArrayType(DoubleType)))))
    val got = t.get(Seq("a", "b"), "minute", Td(20),
      hooks = ReadHooks(joinRows = Some(intersect))).collect().head
    assert(got.getSeq[Double](1) === Seq(2.0, 3.0))
    // a series missing in the bucket → null slot → empty intersection
    t.insert("a", 5.0, Td(80))
    val got2 = t.get(Seq("a", "b"), "minute", Td(80),
      hooks = ReadHooks(joinRows = Some(intersect))).collect().head
    assert(got2.getSeq[Double](1) === Seq.empty)
  }

  test("custom process_row replaces the cast step including read_func") {
    val t = new Timeseries(spark, CountT, minuteHour,
      readFunc = _ * 100) // would multiply by 100 if applied
    t.insert("p", 2.0, Td(10)); t.insert("p", 3.0, Td(20))
    // process_row: negate the bucket state; read_func must NOT run
    val got = t.get(Seq("p"), "minute", Td(10),
      hooks = ReadHooks(processRow = Some(v => -v))).collect().head
    assert(got.getDouble(1) === -5.0)
  }

  test("custom fetch hook pre-filters the log (README.rst:644-663)") {
    val t = new Timeseries(spark, CountT, minuteHour)
    t.insert("f", 1.0, Td(10)); t.insert("f", 100.0, Td(20))
    val got = t.get(Seq("f"), "minute", Td(10),
      hooks = ReadHooks(fetch = df => df.filter(col("value") < 50))).collect().head
    assert(got.getDouble(1) === 1.0)
  }

  test("joined fine+condense keeps reference merge order: join BEFORE condense") {
    // The reference joins per resolution bucket first (_join_results,
    // timeseries.py:684-688) and THEN condenses in r_time order
    // (:693-704) — verified against series_helper.py:238-251. So for
    // gauge, the winner is the last RESOLUTION bucket with data (and
    // only within one bucket the last named series): a@minute5 beats
    // b@minute3 even though b is later in the name list.
    val t = new Timeseries(spark, GaugeT, minuteHour)
    t.insert("a", 1.0, Td(5 * 60)); t.insert("b", 2.0, Td(3 * 60))
    val got = t.get(Seq("a", "b"), "hour", Td(0), condense = true).collect().head
    assert(got.getDouble(1) === 1.0)
    // same r bucket: later named series wins
    val t2 = new Timeseries(spark, GaugeT, minuteHour)
    t2.insert("a", 1.0, Td(60)); t2.insert("b", 2.0, Td(61))
    val got2 = t2.get(Seq("a", "b"), "hour", Td(0), condense = true).collect().head
    assert(got2.getDouble(1) === 2.0)
    // and series order decides, not insert order
    val t3 = new Timeseries(spark, GaugeT, minuteHour)
    t3.insert("b", 2.0, Td(61)); t3.insert("a", 1.0, Td(60))
    val got3 = t3.get(Seq("b", "a"), "hour", Td(0), condense = true).collect().head
    assert(got3.getDouble(1) === 1.0)
  }

  test("series multi-name condense interleaves by resolution bucket (series_helper.py:238-251)") {
    val t = new Timeseries(spark, SeriesT, minuteHour)
    t.insert("x", 10.0, Td(10)); t.insert("y", 20.0, Td(20)) // r bucket 0
    t.insert("x", 30.0, Td(70)); t.insert("y", 40.0, Td(80)) // r bucket 1
    val got = t.get(Seq("x", "y"), "hour", Td(0), condense = true).collect().head
    assert(got.getSeq[Double](1) === Seq(10.0, 20.0, 30.0, 40.0))
  }

  test("write-time TTL guard drops rows already past the horizon (I12)") {
    import spark.implicits._
    val t = new Timeseries(spark, CountT, minuteHour)
    val ev = Seq(
      ("w", Td(0), 1.0, 0L),      // 10 minutes before now → past minute TTL (5 steps)
      ("w", Td(540), 2.0, 1L))    // 1 minute before now → kept
      .toDF("name", "ts_sec", "value", "seq")
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
    val log = t.bucketize(ev, col("name"), col("ts"), col("value"), col("seq"),
      guardNow = Some(Td(600)))
    val minuteRows = log.filter(col("interval") === "minute").select("i_time", "value")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(minuteRows === Set(((T0 + 540) / 60, 2.0)))
    // the hour interval has no TTL → both rows kept
    assert(log.filter(col("interval") === "hour").count() === 2L)
  }

  test("delete folds the buffer: buffered rows for the name really go away (ADVICE)") {
    val t = new Timeseries(spark, CountT, minuteHour)
    t.insert("gone", 1.0, Td(10)); t.insert("kept", 2.0, Td(10))
    t.delete("gone")
    assert(t.list().collect().map(_.getString(0)).toSeq === Seq("kept"))
    // no double counting on repeated reads after delete
    val v1 = t.get(Seq("kept"), "minute", Td(10)).collect().head.getDouble(1)
    val v2 = t.get(Seq("kept"), "minute", Td(10)).collect().head.getDouble(1)
    assert(v1 === 2.0 && v2 === 2.0)
    // inserts after delete still land
    t.insert("kept", 3.0, Td(15))
    assert(t.get(Seq("kept"), "minute", Td(10)).collect().head.getDouble(1) === 5.0)
  }

  test("delete_all empties the store (D2, timeseries.py:512-519)") {
    val t = new Timeseries(spark, CountT, minuteHour)
    t.insert("a", 1.0, Td(10)); t.insert("b", 1.0, Td(10))
    t.deleteAll()
    assert(t.list().count() === 0L)
    t.insert("c", 4.0, Td(10))
    assert(t.get(Seq("c"), "minute", Td(10)).collect().head.getDouble(1) === 4.0)
  }

  test("gregorian yearly end-to-end with leap-year rate (timeseries_test.py:62-102)") {
    val t = new Timeseries(spark, CountT, Map("yearly" -> IntervalSpec(TimeStep("yearly"))))
    val feb2012 = java.time.LocalDate.of(2012, 2, 15).atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    val mar2013 = java.time.LocalDate.of(2013, 3, 1).atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    t.insert("y", 366.0, feb2012.toDouble)
    t.insert("y", 365.0, mar2013.toDouble)
    val got = t.series(Seq("y"), "yearly", start = Some(feb2012.toDouble),
      end = Some(mar2013.toDouble), transform = Transforms("rate"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val y2012 = java.time.LocalDate.of(2012, 1, 1).atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    val y2013 = java.time.LocalDate.of(2013, 1, 1).atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    // 2012 is a leap year: rate = 366 / (366*86400); 2013: 365 / (365*86400)
    assert(math.abs(got(y2012) - 366.0 / (366.0 * 86400)) < 1e-12)
    assert(math.abs(got(y2013) - 365.0 / (365.0 * 86400)) < 1e-12)
  }

  test("saved bucket store prunes partitions and pushes filters at read (scale evidence)") {
    val t = new Timeseries(spark, CountT, minuteHour)
    t.insert("p", 1.0, Td(10)); t.insert("p", 2.0, Td(70)); t.insert("q", 3.0, Td(10))
    val dir = graft.TempDirs.create("graft_store").toString
    t.save(s"$dir/store")
    // interval partition directories exist
    val dirs = new java.io.File(s"$dir/store").listFiles().map(_.getName).filter(_.startsWith("interval="))
    assert(dirs.toSet === Set("interval=minute", "interval=hour"))
    val reader = new Timeseries(spark, CountT, minuteHour).load(s"$dir/store")
    val plan = reader.get(Seq("p"), "minute", Td(10)).queryExecution.executedPlan.toString
    // partition pruning on interval; name pushed to the scan (i_time is
    // checked in a Filter that compiles once, see the next test)
    assert(plan.contains("PartitionFilters") && plan.contains("interval"), plan.take(2000))
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(name,p)"), plan.take(2000))
    // and the read round-trips
    assert(reader.get(Seq("p"), "minute", Td(10)).collect().head.getDouble(1) === 1.0)
  }

  test("every kairos read shape compiles once and sorts without a range exchange") {
    // every shape also runs as one Spark job of one stage and one task,
    // with no exchange of any kind. Six stats, one event each every 20
    // minutes over ~2.75 days
    val events = for (i <- 0 until 200; j <- 0 until 6) yield (s"s$j", i * 1200L + j * 60L)
    val dir = graft.TempDirs.create("graft_compile_once").toString
    def store(intervals: Map[String, IntervalSpec], path: String) = {
      val w = new Timeseries(spark, CountT, intervals)
      for ((n, t) <- events) w.insert(n, 1.0, Td(t))
      w.save(path)
      new Timeseries(spark, CountT, intervals).load(path)
    }
    val daily = Map("daily" -> IntervalSpec(TimeStep("daily")))
    val flat = store(minuteHour, s"$dir/flat")
    val greg = store(daily, s"$dir/daily")
    val doubled = ReadHooks(processRow = Some(_ * 2))
    // read k of each shape: new bounds and new names for every k
    def shapes(r: Timeseries): Seq[(String, Int => DataFrame)] = Seq(
      "coarse get" -> (k => r.get(Seq(s"s$k"), "minute", Td(k * 1260L))),
      "condensed get" -> (k => r.get(Seq(s"s$k"), "hour", Td(k * 7200L), condense = true)),
      "fine series" -> (k => r.series(Seq(s"s$k"), "hour", start = Some(Td(k * 3600L)),
        steps = Some(3 + k))),
      "condensed multi-name series" -> (k => r.series(Seq(s"s$k", s"s${k + 3}"), "hour",
        start = Some(Td(k * 3600L)), steps = Some(4 + k), condense = true)),
      "staged multi-name series (processRow hook)" -> (k => r.series(Seq(s"s$k", s"s${k + 3}"),
        "hour", start = Some(Td(k * 3600L)), steps = Some(4 + k), condense = true,
        hooks = doubled)),
      "collapse" -> (k => r.series(Seq(s"s$k"), "hour", start = Some(Td(k * 3600L)),
        steps = Some(5 + k), collapse = true)),
      "interpolate" -> (k => r.interpolate(s"s$k", "minute", Td(k * 600L), Td(k * 600L + 3600))))
    val reads = shapes(flat) :+
      (("gregorian series", (k: Int) => greg.series(Seq(s"s$k"), "daily",
        start = Some(Td(k * 86400L)), steps = Some(2))))
    val l = new Harness.RunListener(spark)
    try {
      for ((name, read) <- reads) {
        assert(read(0).collect().nonEmpty, name) // warm-up: compiles the shape
        for (k <- Seq(1, 2)) {
          val c0 = Harness.compiles()
          val df = read(k)
          l.drain()
          assert(df.collect().nonEmpty, s"$name, read $k")
          val (jobs, _) = l.drain()
          assert(Harness.compiles() - c0 === 0L, s"$name, read $k compiled new classes")
          // one job of one stage and one task: no shuffle, no broadcast
          // job, no adaptive re-plan
          assert(jobs.map(j => (j.stages, j.tasks)) === Seq((1, 1)), s"$name: $jobs")
          val plan = df.queryExecution.executedPlan.toString
          // no hash, range or broadcast exchange anywhere in the plan
          assert(!plan.contains("Exchange"), s"$name: $plan")
          val partFilters = "PartitionFilters: \\[([^\\]]*)\\]".r.findAllMatchIn(plan)
            .map(_.group(1)).mkString(" ")
          assert(partFilters.contains("interval"), s"$name: $plan")
          val name0 = if (name.contains("multi-name")) "In(name," else "EqualTo(name,"
          assert(plan.contains("PushedFilters") && plan.contains(name0), s"$name: $plan")
        }
      }
      // a stat absent from the store reads through the same plan as one
      // that finds rows: no new classes after the shapes above warmed up
      for ((name, read) <- Seq[(String, () => DataFrame)](
          "absent get" -> (() => flat.get(Seq("absent"), "minute", Td(1260L))),
          "absent series" -> (() => flat.series(Seq("absent"), "hour",
            start = Some(Td(3600L)), steps = Some(4))))) {
        val c0 = Harness.compiles()
        read().collect()
        assert(Harness.compiles() - c0 === 0L, s"$name compiled new classes")
      }
      // iterate's bounds probe and its read: two single-stage jobs
      l.drain()
      assert(flat.iterate(Seq("s1"), "hour").collect().nonEmpty)
      val (jobs, _) = l.drain()
      assert(jobs.map(j => (j.stages, j.tasks)) === Seq((1, 1), (1, 1)), jobs)
    } finally spark.sparkContext.removeSparkListener(l)
    // an inverted range reads no buckets (the axis must not count down)
    assert(flat.interpolate("s0", "minute", Td(3600), Td(0)).collect().isEmpty)
  }

  test("a read of an attached DataFrame keeps its partitions through the fold, then runs in one") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    object Plans extends AdaptiveSparkPlanHelper // walks into adaptive query stages
    // the caller's lineage: an events table of four files, bucketized
    // on the fly
    val evDir = s"${graft.TempDirs.create("graft_attached_events")}/events"
    spark.range(0, 2400, 1, 4).select(
      concat(lit("s"), (col("id") % 3).cast("string")).as("name"),
      timestamp_seconds(lit(T0) + col("id") * 30).as("ts"),
      (col("id") % 7).cast("double").as("value"), col("id").as("seq"))
      .write.parquet(evDir)
    val ev = spark.read.parquet(evDir)
    def bucketized(t: Timeseries) =
      t.bucketize(ev, col("name"), col("ts"), col("value"), col("seq"))
    val attached = new Timeseries(spark, CountT, minuteHour)
    attached.attach(bucketized(attached))
    val stored = new Timeseries(spark, CountT, minuteHour)
    stored.attach(bucketized(stored)).save(s"${graft.TempDirs.create("graft_attached")}/store")
    val doubled = ReadHooks(processRow = Some(_ * 2))
    val reads: Seq[(String, Timeseries => DataFrame)] = Seq(
      "get" -> (_.get(Seq("s1"), "minute", Td(660))),
      "staged multi-name series" -> (_.series(Seq("s1", "s2"), "hour", start = Some(Td(0)),
        steps = Some(2), condense = true, hooks = doubled)),
      "collapse" -> (_.series(Seq("s0"), "hour", start = Some(Td(0)), steps = Some(2),
        collapse = true)),
      "interpolate" -> (_.interpolate("s1", "minute", Td(0), Td(3600))))
    val l = new Harness.RunListener(spark)
    try {
      for ((name, read) <- reads) {
        val df = read(attached)
        l.drain()
        val got = df.collect()
        val (jobs, _) = l.drain()
        assert(got.nonEmpty && got.toSeq === read(stored).collect().toSeq,
          s"$name: attached vs stored")
        // the lineage and the first fold run in the caller's four tasks
        assert(jobs.exists(_.tasks >= 4), s"$name: $jobs")
        // the executed (final adaptive) plan: one hash exchange, for the
        // fold, and no broadcast
        val plan = df.queryExecution.executedPlan
        assert(Plans.collect(plan) { case e: ShuffleExchangeExec => e }.size === 1,
          s"$name: $plan")
        assert(Plans.collect(plan) { case e: BroadcastExchangeExec => e }.isEmpty,
          s"$name: $plan")
      }
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("approx_count_distinct tracks exact set cardinality within its rsd") {
    val t = new Timeseries(spark, SetT, minuteHour)
    for (i <- 1 until 2000) t.insert("ac", (i % 700).toDouble, Td(i % 50))
    val log = t.log.filter(col("interval") === "minute")
    val exact = log.agg(countDistinct(col("value"))).head().getLong(0)
    val approx = log.agg(approx_count_distinct(col("value"))).head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.1,
      s"approx $approx vs exact $exact")
  }

  test("compact physically expires TTL'd partitions and leaves others untouched") {
    val t = new Timeseries(spark, CountT, minuteHour)
    // minute carries a TTL (steps=5 → 300s); hour has none
    t.insert("c", 1.0, Td(10))   // minute bucket past the horizon at `now`
    t.insert("c", 2.0, Td(1000)) // live minute bucket
    val dir = graft.TempDirs.create("graft_compact").toString
    t.save(s"$dir/store")
    def hourFiles = new java.io.File(s"$dir/store/interval=hour").listFiles()
      .map(f => (f.getName, f.lastModified)).toSet
    val before = hourFiles
    t.compact(s"$dir/store", now = Td(1100))
    assert(hourFiles === before, "non-TTL partition must survive byte-untouched")
    val reader = new Timeseries(spark, CountT, minuteHour).load(s"$dir/store")
    val minuteTimes = reader.log.filter(col("interval") === "minute")
      .select("i_time").collect().map(_.getLong(0)).toSet
    assert(minuteTimes === Set((500000L * 3600L + 1000) / 60),
      "expired minute bucket must be physically gone")
    assert(reader.log.filter(col("interval") === "hour").count() === 2L)
    assert(reader.get(Seq("c"), "minute", Td(1000)).collect().head.getDouble(1) === 2.0)
  }

  test("compact honors the calendar-aware gregorian cutoff") {
    val t = new Timeseries(spark, CountT,
      Map("daily" -> IntervalSpec(TimeStep("daily"), Some(5))))
    val jan31 = java.time.LocalDate.of(2024, 1, 31).atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    val jan20 = java.time.LocalDate.of(2024, 1, 20).atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    val feb2 = java.time.LocalDate.of(2024, 2, 2).atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    t.insert("g", 1.0, jan31.toDouble) // inside the 5-day TTL at feb2
    t.insert("g", 1.0, jan20.toDouble) // far past it
    val dir = graft.TempDirs.create("graft_gcompact").toString
    t.save(s"$dir/store")
    t.compact(s"$dir/store", now = feb2.toDouble)
    val kept = new Timeseries(spark, CountT,
      Map("daily" -> IntervalSpec(TimeStep("daily"), Some(5)))).load(s"$dir/store")
      .log.select("i_time").collect().map(_.getLong(0)).toSet
    assert(kept === Set(20240131L)) // linear bucket arithmetic would drop jan31 too
  }

  test("compact restores a store or interval partition parked by an interrupted swap, then compacts it") {
    // (directory the swap stopped between its two renames, its parked name)
    for ((parked, hidden) <- Seq("store/interval=minute" -> "store/.interval=minute-old",
        "store" -> ".store-old")) {
      val t = new Timeseries(spark, CountT, minuteHour)
      t.insert("c", 1.0, Td(10)); t.insert("c", 2.0, Td(1000))
      val dir = graft.TempDirs.create("graft_parked").toString
      t.save(s"$dir/store")
      assert(new java.io.File(s"$dir/$parked")
        .renameTo(new java.io.File(s"$dir/$hidden")))
      t.compact(s"$dir/store", now = Td(1100))
      val reader = new Timeseries(spark, CountT, minuteHour).load(s"$dir/store")
      val minuteTimes = reader.log.filter(col("interval") === "minute")
        .select("i_time").collect().map(_.getLong(0)).toSet
      assert(minuteTimes === Set((500000L * 3600L + 1000) / 60),
        s"parked $parked must be restored with its expired bucket gone")
      assert(reader.log.filter(col("interval") === "hour").count() === 2, parked)
      assert(new java.io.File(dir).list().toSeq === Seq("store"), parked)
      assert(!new java.io.File(s"$dir/store").list().exists(_.endsWith("-old")), parked)
    }
  }

  test("save is same-path safe: load -> delete -> save(same path) round-trips") {
    val t = new Timeseries(spark, CountT, minuteHour)
    t.insert("gone", 1.0, Td(10)); t.insert("kept", 2.0, Td(10))
    val dir = graft.TempDirs.create("graft_resave").toString
    t.save(s"$dir/store")
    // the kairos delete -> persist flow: the attached plan's lineage
    // reads the very directory save() is about to replace
    val u = new Timeseries(spark, CountT, minuteHour).load(s"$dir/store")
    u.delete("gone")
    u.save(s"$dir/store")
    // the saving instance keeps working (re-attached to the new files)
    assert(u.list().collect().map(_.getString(0)).toSeq === Seq("kept"))
    val r = new Timeseries(spark, CountT, minuteHour).load(s"$dir/store")
    assert(r.list().collect().map(_.getString(0)).toSeq === Seq("kept"))
    assert(r.get(Seq("kept"), "minute", Td(10)).collect().head.getDouble(1) === 2.0)
    // no dot-prefixed residue of the swap next to the store
    assert(new java.io.File(dir).list().toSeq === Seq("store"))
  }

  test("load attaches the store with the log schema and runs no Spark job") {
    val t = new Timeseries(spark, CountT, minuteHour)
    t.insert("j", 1.0, Td(10)); t.insert("j", 2.0, Td(70))
    val dir = graft.TempDirs.create("graft_load").toString
    t.save(s"$dir/store")
    val l = new Harness.RunListener(spark)
    try {
      l.drain()
      val r = new Timeseries(spark, CountT, minuteHour).load(s"$dir/store")
      val (jobs, _) = l.drain()
      assert(jobs.isEmpty, jobs.map(_.desc))
      assert(r.log.schema.sortBy(_.name) === Timeseries.logSchema(DoubleType).sortBy(_.name))
      assert(r.get(Seq("j"), "minute", Td(70)).collect().head.getDouble(1) === 2.0)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("insert after load unions by name (parquet attach has partition cols last)") {
    val t = new Timeseries(spark, CountT, minuteHour)
    t.insert("n", 1.0, Td(10))
    val dir = graft.TempDirs.create("graft_union").toString
    t.save(s"$dir/store")
    val u = new Timeseries(spark, CountT, minuteHour).load(s"$dir/store")
    u.insert("n", 2.0, Td(15))
    assert(u.get(Seq("n"), "minute", Td(10)).collect().head.getDouble(1) === 3.0)
  }

  test("deleteFromStore physically removes one name, other intervals byte-identical (D1 store-level)") {
    import spark.implicits._
    // hand-built log: "gone" exists ONLY in the minute interval, so the
    // hour partition must not be rewritten at all
    val rows = Seq(
      ("keep", "minute", Td(10).toLong / 60, -1L, 0L, 1.0),
      ("gone", "minute", Td(20).toLong / 60, -1L, 1L, 5.0),
      ("keep", "hour", Td(10).toLong / 3600, Td(10).toLong / 60, 2L, 1.0))
      .toDF("name", "interval", "i_time", "r_time", "seq", "value")
    val minuteOnly = Map(
      "minute" -> IntervalSpec(TimeStep(60L), None, None),
      "hour"   -> IntervalSpec(TimeStep(3600L), None, Some(TimeStep(60L))))
    val t = new Timeseries(spark, CountT, minuteOnly).attach(rows)
    val dir = graft.TempDirs.create("graft_sdel").toString
    t.save(s"$dir/store")
    def files(sub: String) = new java.io.File(s"$dir/store/interval=$sub").listFiles()
      .map(f => (f.getName, f.lastModified)).toSet
    val hourBefore = files("hour")
    t.deleteFromStore(s"$dir/store", "gone")
    assert(files("hour") === hourBefore, "interval without the name must survive byte-untouched")
    // a name in no interval: every probe misses, nothing is rewritten
    val minuteBefore = files("minute")
    t.deleteFromStore(s"$dir/store", "no-such-name")
    assert(files("minute") === minuteBefore && files("hour") === hourBefore,
      "a probe that misses must leave the files byte-untouched")
    val r = new Timeseries(spark, CountT, minuteOnly).load(s"$dir/store")
    assert(r.list().collect().map(_.getString(0)).toSeq === Seq("keep"))
    assert(r.log.filter(col("interval") === "minute").count() === 1L)
    assert(r.log.filter(col("interval") === "hour").count() === 1L)
  }

  test("dedupStore reconciles a double-replayed append; clean partitions untouched") {
    val t = new Timeseries(spark, CountT, minuteHour)
    t.insert("r", 1.0, Td(10)); t.insert("r", 2.0, Td(70))
    val dir = graft.TempDirs.create("graft_dedupstore").toString
    t.save(s"$dir/store")
    val clean = new Timeseries(spark, CountT, minuteHour).load(s"$dir/store")
    val expected = clean.get(Seq("r"), "minute", Td(10)).collect().head.getDouble(1)
    val cleanCount = clean.log.count() // before the store mutates under it
    // replay: re-append the store's own rows — what an at-least-once
    // streaming sink does when a micro-batch retries after the write
    val replay = spark.read.parquet(s"$dir/store").localCheckpoint(true)
    replay.write.mode("append").partitionBy("interval").parquet(s"$dir/store")
    val dirty = new Timeseries(spark, CountT, minuteHour).load(s"$dir/store")
    assert(dirty.get(Seq("r"), "minute", Td(10)).collect().head.getDouble(1) === 2 * expected,
      "replayed count fold must double before reconciliation")
    t.dedupStore(s"$dir/store")
    val after = new Timeseries(spark, CountT, minuteHour).load(s"$dir/store")
    assert(after.get(Seq("r"), "minute", Td(10)).collect().head.getDouble(1) === expected)
    assert(after.log.count() === cleanCount)
    // a second dedupStore over the now-clean store must not rewrite:
    // the probe sees no duplicates, files stay byte-identical
    def files = new java.io.File(s"$dir/store/interval=minute").listFiles()
      .map(f => (f.getName, f.lastModified)).toSet
    val before = files
    t.dedupStore(s"$dir/store")
    assert(files === before, "clean partition must survive byte-untouched")
  }

  test("gregorian step with RELATIVE resolution mixes calculators (README.rst:135-139)") {
    // daily calendar buckets holding hourly resolution granules — the
    // reference selects the bucket calculator independently per step
    // and per resolution (timeseries.py:378-389)
    val t = new Timeseries(spark, CountT,
      Map("daily" -> IntervalSpec(TimeStep("daily"), None, Some(TimeStep(3600L)))))
    val day1 = java.time.LocalDate.of(2024, 3, 10).atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    t.insert("m", 1.0, (day1 + 600).toDouble)          // 00:10
    t.insert("m", 2.0, (day1 + 3600 + 60).toDouble)    // 01:01
    t.insert("m", 4.0, (day1 + 86400 + 60).toDouble)   // next day 00:01
    // condensed read folds the hour granules into the calendar day
    val day = t.get(Seq("m"), "daily", (day1 + 5000).toDouble, condense = true).collect().head
    assert(day.getLong(0) === day1 && day.getDouble(1) === 3.0)
    // fine read keys granules at epoch-hour timestamps inside the day
    val fine = t.series(Seq("m"), "daily", start = Some(day1.toDouble),
      end = Some((day1 + 2 * 86400).toDouble))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(fine.toSet === Set(
      (day1, day1, 1.0), (day1, day1 + 3600, 2.0),
      (day1 + 86400, day1 + 86400, 4.0)))
  }

  test("gregorian weekly insert fan-out lands at normalized calendar buckets (gregorian_helper.py:33-78)") {
    // the reference's Gregorian fan-out steps CALENDAR units
    // (timedelta(weeks=steps), timeseries.py:177-187) and lands offset
    // copies at normalize() = the shifted bucket's start — not linear
    // seconds arithmetic
    val w = GregorianTime("weekly")
    val ts1 = java.time.LocalDate.of(2038, 2, 10).atStartOfDay(java.time.ZoneOffset.UTC)
      .toEpochSecond.toDouble
    val ts2 = w.fromBucket(w.toBucket(ts1, 1)).toDouble
    val ts3 = w.fromBucket(w.toBucket(ts1, 2)).toDouble
    assert(ts1 != ts2)
    val t = new Timeseries(spark, SeriesT,
      Map("weekly" -> IntervalSpec(TimeStep("weekly"))))
    def vals(at: Double): Seq[Double] =
      t.get(Seq("test"), "weekly", at).collect().head.getSeq[Double](1)
    t.insert("test", 32.0, ts1, intervalsFanout = 1)
    assert(vals(ts1) === Seq(32.0))
    assert(vals(ts2) === Seq(32.0))
    t.insert("test", 42.0, ts1, intervalsFanout = 2)
    assert(vals(ts1) === Seq(32.0, 42.0))
    assert(vals(ts2) === Seq(32.0, 42.0))
    assert(vals(ts3) === Seq(42.0))
    // backwards fan-out (gregorian_helper.py:56-78)
    val b2 = w.fromBucket(w.toBucket(ts1, -1)).toDouble
    val b3 = w.fromBucket(w.toBucket(ts1, -2)).toDouble
    val t2 = new Timeseries(spark, SeriesT,
      Map("weekly" -> IntervalSpec(TimeStep("weekly"))))
    t2.insert("test", 32.0, ts1, intervalsFanout = -1)
    t2.insert("test", 42.0, ts1, intervalsFanout = -2)
    def vals2(at: Double): Seq[Double] =
      t2.get(Seq("test"), "weekly", at).collect().head.getSeq[Double](1)
    assert(vals2(ts1) === Seq(32.0, 42.0))
    assert(vals2(b2) === Seq(32.0, 42.0))
    assert(vals2(b3) === Seq(42.0))
  }

  test("expire uses calendar-aware cutoff for gregorian intervals (ADVICE)") {
    val t = new Timeseries(spark, CountT,
      Map("daily" -> IntervalSpec(TimeStep("daily"), Some(5))))
    val jan31 = java.time.LocalDate.of(2024, 1, 31).atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    val feb2 = java.time.LocalDate.of(2024, 2, 2).atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    t.insert("g", 1.0, jan31.toDouble) // 2 days before now — inside 5-day TTL
    val kept = t.expired(feb2.toDouble)
    // linear bucket arithmetic (20240202 - 5 = 20240197) would wrongly
    // drop 20240131; the calendar-aware cutoff keeps it
    assert(kept.filter(col("interval") === "daily").count() === 1L)
  }

  test("facade anomalies: a planted spike flags against its trailing baseline") {
    val t = new Timeseries(spark, CountT,
      Map("minute" -> IntervalSpec(TimeStep(60L))))
    // 10 steady minutes (alternating 1/2 events — the baseline needs
    // nonzero spread or the operator refuses a verdict), then a spike
    (0 until 10).foreach { m =>
      t.insert("cpu", 1.0, Td(m * 60))
      if (m % 2 == 1) t.insert("cpu", 1.0, Td(m * 60))
    }
    (0 until 50).foreach(_ => t.insert("cpu", 1.0, Td(600)))
    val got = t.anomalies("cpu", "minute", window = 5, threshold = 3.0,
        start = Some(Td(0)), steps = Some(11))
      .select("i_time", "value", "is_anomaly")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    // baseline mean 1.5, std ~0.55: z(50) ≈ 88 — unambiguous
    assert(got(T0 + 600) === ((50.0, true)), "spike must flag")
    assert(got.filter(_._1 != T0 + 600).values.forall(!_._2),
      "steady minutes must not flag")
  }

  test("facade interpolate: empty gauge buckets become the line, edges null") {
    val t = new Timeseries(spark, GaugeT,
      Map("minute" -> IntervalSpec(TimeStep(60L))))
    t.insert("temp", 10.0, Td(60))    // minute 1
    t.insert("temp", 40.0, Td(240))   // minute 4; minutes 2,3 empty
    val got = t.interpolate("temp", "minute", Td(0), Td(300))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(r.fieldIndex("filled"))) None
        else Some(r.getDouble(r.fieldIndex("filled"))),
        r.getBoolean(r.fieldIndex("interpolated")))).toList
    assert(got === List(
      (T0, None, false),              // leading edge stays null
      (T0 + 60, Some(10.0), false),
      (T0 + 120, Some(20.0), true),   // time-weighted line
      (T0 + 180, Some(30.0), true),
      (T0 + 240, Some(40.0), false),
      (T0 + 300, None, false)))       // trailing edge stays null
  }

  test("facade interpolate mirrors the hook read path (processRow + staged agg)") {
    val t = new Timeseries(spark, CountT, minuteHour)
    t.insert("n", 2.0, Td(10)); t.insert("n", 3.0, Td(70))  // hour 0, two granules
    t.insert("n", 11.0, Td(3 * 3600 + 10))                  // hour 3; hours 1,2 empty
    val hk = ReadHooks(processRow = Some(v => v * 2))
    // hook contract: granule fold → processRow → condense, exactly as a
    // condensed series() read — hour0 = 2·2 + 3·2 = 10, hour3 = 22
    val viaSeries = t.series(Seq("n"), "hour", start = Some(Td(0)),
        steps = Some(4), condense = true, hooks = hk)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaSeries === Map(T0 -> 10.0, T0 + 3 * 3600 -> 22.0))
    val filled = t.interpolate("n", "hour", Td(0), Td(3 * 3600), hooks = hk)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(r.fieldIndex("filled"))) None
         else Some(r.getDouble(r.fieldIndex("filled"))))).toMap
    // extant buckets carry the SAME hook-processed values as series();
    // the empty middle interpolates on those processed endpoints
    assert(filled === Map(
      T0 -> Some(10.0), T0 + 3600 -> Some(14.0),
      T0 + 7200 -> Some(18.0), T0 + 3 * 3600 -> Some(22.0)))
  }
}
