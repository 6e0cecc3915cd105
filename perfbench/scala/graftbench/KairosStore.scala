package graftbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Timeseries
import graft.model.{CountT, HistogramT, IntervalSpec, SeriesType}
import graft.time.TimeStep

/** `kairos_store`: bulk ingest into two saved parquet stores (a count
  * series and a histogram series, intervals `minute` and `hour` at
  * minute resolution), then a closed loop of `get` and `series` reads on
  * the reloaded stores, each checked against plain-Scala aggregates.
  *
  * The reads cycle through four call kinds — get and series on each of
  * the two stores — so every kind has the same share of the run. */
final class KairosStore(args: Args) extends Workload {
  import KairosStore._

  private val gen = new EventGen(args.seed, StatCount, ZipfS)
  private var index: MinuteIndex = _
  private val input = s"${args.work}/kairos-input"

  /** Events as (name, ts, value, seq), computed inside Spark tasks from
    * the seed. */
  private def events(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    val g = gen
    spark.range(0, n, 1, Main.Cores).as[Long].map { i =>
      (Gen.statName(g.name(i)), Gen.T0 + g.offset(i, SpanSec), g.value(i).toDouble, i)
    }.toDF("name", "sec", "value", "seq")
      .select(col("name"), timestamp_seconds(col("sec")).as("ts"), col("value"), col("seq"))
  }

  def setup(spark: SparkSession): Unit = {
    // inputs: the event file the ingest reads, and the expected buckets
    events(spark, Events).write.mode("overwrite").parquet(input)
    val idx = new MinuteIndex
    var i = 0L
    while (i < Events) { idx.add(gen.name(i), Gen.T0 + gen.offset(i, SpanSec), gen.value(i)); i += 1 }
    index = idx
  }

  def measure(spark: SparkSession, rec: Recorder): Outcome = {
    val stores = Seq(CountT -> s"${args.work}/store-count", HistogramT -> s"${args.work}/store-histogram")
    // ingest: bucketize + save, one call per store, in rounds; the first
    // round compiles the write plans and is reported apart, the median of
    // the others is the ingest rate. The reads use the last round's stores
    val ingestNs = (0 until IngestRounds).map { _ =>
      stores.map { case (st, path) =>
        rec.call("ingest", st.typeName) { sc =>
          val t = new Timeseries(spark, st, Intervals)
          val log = sc.phase("bucketize") {
            t.bucketize(spark.read.parquet(input), col("name"), col("ts"), col("value"), col("seq"))
          }
          sc.phase("save") { t.attach(log).save(path) }
        }
        rec.all.last.nanos
      }.sum
    }
    val storeBytes = stores.map { case (_, p) => dataBytes(new File(p)) }.sum

    // first reads, untimed: load each store, then one read of every kind
    // (they also compile the read plans), then a second untimed pass
    val rnd = new Reads(args.seed, gen)
    var failures = Vector.empty[String]
    var attempted = 2L * IngestRounds
    val firstFrom = rec.all.size
    val opened = stores.map { case (st, path) =>
      rec.call("load", st.typeName, timed = false) { sc =>
        sc.phase("load") { new Timeseries(spark, st, Intervals).load(path) }
      }
    }
    def read(k: Int, timed: Boolean): Unit = {
      val kind = Kinds(k % Kinds.size)
      val (st, isGet) = (kind._2, kind._1 == "get")
      val t = opened(if (st == CountT) 0 else 1)
      val hist = st == HistogramT
      val spec = if (isGet) rnd.get(k) else rnd.series(k)
      attempted += 1
      val res = scala.util.Try(rec.call(kind._1, s"${kind._1}_${st.typeName}", timed) { sc =>
        val df = sc.phase("build")(spec.run(t))
        val rows = sc.phase("action")(df.collect().toSeq)
        sc.result(rows.size)
        rows
      })
      res.toEither.left.map(e => s"${spec.describe}: threw $e")
        .flatMap(rows => Expected.diff(Expected.buckets(rows), spec.expected(index, hist))
          .map(d => s"${spec.describe} on ${st.typeName}: $d").toLeft(()))
        .left.foreach(f => failures :+= f)
    }
    (0 until Kinds.size).foreach(k => read(k, timed = false))
    val openS = rec.all.drop(firstFrom).map(_.nanos).sum / 1e9
    (Kinds.size until 2 * Kinds.size).foreach(k => read(k, timed = false))

    // timed reads, in whole cycles of the four kinds
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    var k = 2 * Kinds.size
    while (System.nanoTime() < deadline || k % Kinds.size != 0 || k < Kinds.size * (2 + MinPerKind)) {
      read(k, timed = true); k += 1
    }

    val timed = rec.all.filter(c => c.timed && c.kind != "ingest")
    def ms(kind: String) = timed.filter(_.kind == kind).map(_.ms)
    val kindMedians = timed.groupBy(_.name).map { case (n, cs) => n -> Stats.median(cs.map(_.ms)) }
    val kindMeans = timed.groupBy(_.name).map { case (n, cs) => n -> Stats.trimmedMean(cs.map(_.ms)) }
    val tail = Stats.tail(timed.map(_.ms))
    val getTail = Stats.tail(ms("get")); val seriesTail = Stats.tail(ms("series"))
    val ingestRate = Events / (Stats.median(ingestNs.tail.map(_.toDouble)) / 1e9)
    val calls = rec.all
    def buildMs(phase: String, kinds: Set[String]) = {
      val cs = calls.filter(c => kinds(c.kind))
      cs.flatMap(_.phases.filter(_._1 == phase)).map(p => (p._3 - p._2).toDouble).sum / math.max(1, cs.size)
    }
    Outcome(
      endToEnd = Map(
        "call_ms" -> Stats.geoMean(kindMeans.values.toSeq),
        "rows_per_s" -> ingestRate),
      detail = Map(
        "events" -> Events, "ingest_rows_per_s" -> ingestRate, "open_s" -> openS,
        "first_ingest_s" -> ingestNs.head / 1e9,
        "read_p50_ms" -> kindMedians, "read_trimmed_mean_ms" -> kindMeans,
        "store_bytes_per_row" -> storeBytes.toDouble / Events,
        "get_p50_ms" -> Stats.median(ms("get")), "series_p50_ms" -> Stats.median(ms("series")),
        "get_tail_ms" -> getTail.map(_.value), "get_tail_pct" -> getTail.map(_.percentile),
        "get_samples" -> ms("get").size,
        "series_tail_ms" -> seriesTail.map(_.value), "series_tail_pct" -> seriesTail.map(_.percentile),
        "series_samples" -> ms("series").size,
        "read_tail_ms" -> tail.map(_.value), "read_tail_pct" -> tail.map(_.percentile),
        "read_samples" -> timed.size,
        "expected_buckets" -> index.size),
      attempted = attempted,
      failures = failures,
      groups = Seq("" -> calls.filter(_.timed), "get" -> timed.filter(_.kind == "get"),
        "series" -> timed.filter(_.kind == "series"), "ingest" -> calls.filter(_.kind == "ingest")),
      layers = Map(
        "timeseries.bucketize_ms" -> buildMs("bucketize", Set("ingest")),
        "timeseries.save_ms" -> buildMs("save", Set("ingest")),
        "timeseries.load_ms" -> buildMs("load", Set("load")),
        "timeseries.get_build_ms" -> buildMs("build", Set("get")),
        "timeseries.series_build_ms" -> buildMs("build", Set("series")),
        "kairos.store_bytes_per_row" -> storeBytes.toDouble / Events))
  }
}

object KairosStore {
  val Events = 100000L
  val StatCount = 1000
  val ZipfS = 1.1
  val SpanSec: Long = 30L * 86400
  val MinPerKind = 3
  val IngestRounds = 4

  val Intervals: Map[String, IntervalSpec] = Map(
    "minute" -> IntervalSpec(TimeStep(60L)),
    "hour" -> IntervalSpec(TimeStep(3600L), None, Some(TimeStep(60L))))

  val Kinds: Seq[(String, SeriesType)] =
    Seq("get" -> CountT, "series" -> CountT, "get" -> HistogramT, "series" -> HistogramT)

  /** Bytes of a store's data files (hidden checksum and marker files
    * excluded). */
  def dataBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dataBytes).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length

  /** One read: how to issue it and what it must return. */
  final case class ReadSpec(describe: String, run: Timeseries => DataFrame,
      expected: (MinuteIndex, Boolean) => Seq[Bucket])

  /** The read mix. Read `k` is in cycle `r = k / Kinds.size` of the four
    * kinds. The shapes rotate with `r` the same way in every run — gets
    * through `minute`, `hour` and condensed `hour`; series through 1-3
    * stats, condensed every other cycle, over 24-168 hours spread evenly
    * (a golden-ratio sequence) — so a run's cost does not hang on how
    * many costly shapes its seed happened to draw. The seed picks the
    * stats (with the events' skew), the times and the ranges. */
  final class Reads(seed: Long, gen: EventGen) {
    private def u(k: Int, j: Int) = Gen.unit(Gen.hash(seed, 100 + j, k))
    // stats drawn from the events' name distribution, at indices past them
    private def stat(k: Int, j: Int) = gen.name(1000000000L + k * 7L + j)
    private def cycle(k: Int) = k / Kinds.size
    private val stepsFrom = u(0, 4)

    def get(k: Int): ReadSpec = {
      val s = stat(k, 0)
      val ts = Gen.T0 + (u(k, 1) * SpanSec).toLong
      val (interval, condense) = cycle(k) % 3 match {
        case 0 => ("minute", false)
        case 1 => ("hour", false)
        case _ => ("hour", true)
      }
      ReadSpec(s"get(${Gen.statName(s)}, $interval, $ts, condense=$condense)",
        _.get(Seq(Gen.statName(s)), interval, ts.toDouble, condense = condense),
        (idx, hist) => idx.get(s, interval, ts, condense, hist))
    }

    def series(k: Int): ReadSpec = {
      val r = cycle(k)
      val stats = (0 until 1 + r % 3).map(j => stat(k, j)).distinct
      val steps = 24 + ((stepsFrom + r * 0.6180339887498949) % 1.0 * 145).toInt
      val h0 = Gen.T0 / 3600 + (u(k, 5) * (SpanSec / 3600 - steps)).toLong
      val condense = r % 2 == 1
      val names = stats.map(Gen.statName)
      ReadSpec(s"series(${names.mkString(",")}, hour, start=${h0 * 3600}, steps=$steps, condense=$condense)",
        _.series(names, "hour", start = Some((h0 * 3600).toDouble), steps = Some(steps),
          condense = condense),
        (idx, hist) => idx.series(stats, h0, h0 + steps - 1, condense, hist))
    }
  }
}
