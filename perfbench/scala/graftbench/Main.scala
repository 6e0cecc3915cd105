package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization.write

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, data: String, golden: String, spans: String)

/** What a workload's timed phase produced. `endToEnd` holds every
  * end-to-end metric except `setup_s` and `native_peak_mb`, which [[Main]]
  * measures the same way for all workloads. `groups` names the call
  * groups whose per-layer metrics are reported ("" = the unprefixed
  * metrics); `layers` holds the workload's own layer metrics. */
final case class Outcome(endToEnd: Map[String, Double], detail: Map[String, Any],
    attempted: Long, failures: Seq[String], groups: Seq[(String, Seq[Call])],
    layers: Map[String, Double])

trait Workload {
  /** One set-up repetition on a fresh session: warm-up and input
    * generation. The inputs of the last repetition are the ones measured. */
  def setup(spark: SparkSession): Unit
  /** The timed phase: a closed loop of calls for `args.seconds` seconds. */
  def measure(spark: SparkSession, rec: Recorder): Outcome
}

object Main {
  private implicit val formats: Formats = DefaultFormats
  val Cores = 4
  val SetupReps = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "native_peak_mb" -> "MB", "call_ms" -> "ms", "rows_per_s" -> "rows/s")

  def session(args: Args): SparkSession = SparkSession.builder()
    .master(s"local[$Cores]")
    .appName("graftbench")
    .config("spark.sql.shuffle.partitions", Cores.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.driver.host", "127.0.0.1")
    .config("spark.local.dir", s"${args.work}/spark-local")
    .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
    // cleanup of unreferenced shuffles and blocks runs to completion on
    // the cleaner thread when a GC finds them
    .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
    .config("spark.sql.ui.retainedExecutions", "4")
    .config("spark.ui.retainedJobs", "20")
    .config("spark.ui.retainedStages", "20")
    .config("spark.ui.retainedTasks", "200")
    .getOrCreate()

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("data"), need("golden"), need("spans"))
  }

  def main(argv: Array[String]): Unit =
    try run(parse(argv))
    catch { case e: Throwable =>
      // Spark's non-daemon threads would keep a failed run's JVM alive
      e.printStackTrace()
      sys.exit(1)
    }

  private def run(args: Args): Unit = {
    val workload: Workload = args.workload match {
      case "kairos_store" => new KairosStore(args)
      case "curation_batch" => new CurationBatch(args)
      case "stream_ingest" => new StreamIngest(args)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = RunConditions.loadAvg()
    val scalarS = RunConditions.scalarProbe()

    // setup_s is the median of several set-ups: the first also loads and
    // compiles the JVM's classes, and one figure from it would swing
    // with that cold start
    var spark: SparkSession = null
    val setups = (0 until SetupReps).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(args)
      spark.sparkContext.setLogLevel("WARN")
      workload.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val sparkS = RunConditions.sparkProbe(spark)
    System.gc()
    val firstCallS = (System.currentTimeMillis() - jvmStart) / 1e3

    val rec = new Recorder(spark, args.trace)
    val out = workload.measure(spark, rec)
    rec.tracer.foreach(_.finish())

    val peakRss = RunConditions.peakRssMb()
    val e2e = out.endToEnd ++ Map(
      "setup_s" -> Stats.median(setups), "native_peak_mb" -> (peakRss - RunConditions.heapMb()))
    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) EndToEnd.map { case (n, u) => (n, e2e(n), u) }
      else perLayer(args, rec, out, e2e)
    val conditions = Map(
      "seed" -> args.seed, "workload" -> args.workload, "seconds" -> args.seconds,
      "trace" -> args.trace, "nproc" -> Runtime.getRuntime.availableProcessors,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576, "heap_committed_mb" -> RunConditions.heapMb(),
      "load_1m_start" -> loadStart, "load_1m_end" -> RunConditions.loadAvg(),
      "calibration_scalar_s" -> scalarS, "calibration_spark_s" -> sparkS,
      "setup_reps_s" -> setups, "process_start_to_first_call_s" -> firstCallS)
    spark.stop()

    val failed = out.failures.size.toLong
    println(write(Map("conditions" -> conditions,
      "detail" -> (out.detail ++ Map(
        "setup_s" -> e2e("setup_s"), "native_peak_mb" -> e2e("native_peak_mb"), "peak_rss_mb" -> peakRss,
        "failed_frac" -> failed.toDouble / math.max(1L, out.attempted))),
      "failures" -> out.failures.take(5))))
    require(metrics.forall { case (_, v, _) => !v.isNaN && !v.isInfinite }, s"non-finite metric: $metrics")
    println(write(Map(
      "correct" -> (failed == 0),
      "attempted" -> math.max(1L, out.attempted),
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)))
  }

  /** The traced run's metrics: every name in [[Layers.all]], zero where a
    * layer is not exercised by this workload. */
  private def perLayer(args: Args, rec: Recorder, out: Outcome,
      e2e: Map[String, Double]): Seq[(String, Double, String)] = {
    val tracer = rec.tracer.get
    val measured = out.groups.flatMap { case (prefix, calls) =>
      val p = if (prefix.isEmpty) "" else prefix + "."
      tracer.layers(calls, Cores).map { case (k, v) => p + k -> v }
    }.toMap ++ out.layers ++ EndToEnd.map { case (n, _) => s"traced.$n" -> e2e(n) }
    val dir = Paths.get(args.spans)
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"${args.workload}-seed${args.seed}.jsonl"),
      tracer.spans(rec.all).map(write(_)).mkString("", "\n", "\n").getBytes("UTF-8"))
    Layers.all.map { case (n, u) => (n, measured.getOrElse(n, 0.0), u) }
  }
}

/** The per-layer metric names, in the order the traced run prints them. */
object Layers {
  private val sql = Seq("sql.executions" -> "count", "sql.analysis_ms" -> "ms",
    "sql.optimization_ms" -> "ms", "sql.planning_ms" -> "ms")
  private val scheduler = Seq("scheduler.jobs" -> "count", "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count", "scheduler.job_ms" -> "ms",
    "scheduler.outside_jobs_ms" -> "ms", "scheduler.task_delay_ms" -> "ms")
  private val scan = Seq("scan.read_mb" -> "MB", "scan.records" -> "count",
    "scan.files" -> "count", "scan.records_per_result" -> "ratio")
  private val write = Seq("write.mb" -> "MB", "write.files" -> "count")

  val all: Seq[(String, String)] =
    Seq("timeseries.bucketize_ms", "timeseries.save_ms", "timeseries.load_ms",
      "timeseries.get_build_ms", "timeseries.series_build_ms", "timeseries.stream_build_ms")
      .map(_ -> "ms") ++
    Seq("entry.build_ms" -> "ms", "entry.build_jobs" -> "count", "entry.action_ms" -> "ms") ++
    Seq("streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
      "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
      "streaming.triggers_per_call" -> "count", "streaming.state_rows" -> "count",
      "streaming.state_mb" -> "MB", "streaming.state_commit_ms" -> "ms",
      "streaming.state_removal_ms" -> "ms") ++
    sql ++ Seq("codegen.compiles" -> "count", "codegen.compile_ms" -> "ms") ++ scheduler ++
    Seq("executor.run_ms" -> "ms", "executor.cpu_ms" -> "ms", "executor.deserialize_ms" -> "ms",
      "executor.busy_frac" -> "ratio") ++
    Seq("shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "shuffle.spill_mb" -> "MB") ++
    scan ++ write ++
    Seq("jvm.gc_ms" -> "ms", "jvm.heap_mb" -> "MB", "ledger.engagements" -> "count") ++
    Seq("get", "series").flatMap(p => (sql ++ scheduler ++ scan).map { case (n, u) => s"$p.$n" -> u }) ++
    write.map { case (n, u) => s"ingest.$n" -> u } ++
    Seq("kairos.store_bytes_per_row" -> "B") ++
    Main.EndToEnd.map { case (n, u) => s"traced.$n" -> u }
}

/** Run conditions recorded with every result, so results from different
  * days and machines can be normalized. */
object RunConditions {
  def loadAvg(): Double =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble)
      .getOrElse(-1.0)

  /** Committed Java heap, in MB. The heap is fixed and pre-touched, so
    * all of it is resident from the start. */
  def heapMb(): Double =
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0

  /** Resident-set high-water mark of this process, in MB. */
  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
  }

  /** Single-thread scalar loop (xorshift), seconds. */
  def scalarProbe(iters: Long = 300000000L): Double = {
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    val t0 = System.nanoTime()
    var i = 0L
    while (i < iters) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      acc += x * 0x2545F4914F6CDD1DL
      i += 1
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (acc == 42L) System.err.println("calibration sentinel") // keeps the loop live
    s
  }

  /** A tiny Spark job on the measured session, min of two, seconds. */
  def sparkProbe(spark: SparkSession): Double = (0 until 2).map { _ =>
    val t0 = System.nanoTime()
    spark.range(0, 2000000L, 1, Main.Cores)
      .selectExpr("id % 97 AS k", "id AS v")
      .groupBy("k").count().orderBy("k")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }.min
}
