package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.json4s.{JArray, JDecimal, JInt, JNull, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The measurement core the graft mains (Bench, Scale, Profile,
  * Metrics, Verify, Explain, InflateSf) share: the environment knobs,
  * one session builder, the hygiene + timed noop-sink run, one Spark
  * listener and one JSON writer. */
object Harness {

  /** `SPARK_GRAFT_ONLY=a,b`: the query subset to run, when set. */
  def only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)

  /** `SPARK_GRAFT_CPUS`: local parallelism, and the shuffle partition
    * count (default: the machine's processor count). */
  def cpus: Int = positive(sys.env.get("SPARK_GRAFT_CPUS"),
    Runtime.getRuntime.availableProcessors)

  /** `SPARK_GRAFT_WARM_RUNS`: timed warm runs per query, of which the
    * minimum is reported (default 2). */
  def warmRuns: Int = positive(sys.env.get("SPARK_GRAFT_WARM_RUNS"), 2)

  /** A positive integer setting; unset, malformed or non-positive
    * values fall back to `default` instead of crashing a long run. */
  private[graft] def positive(v: Option[String], default: Int): Int =
    v.flatMap(s => scala.util.Try(s.trim.toInt).toOption).filter(_ > 0)
      .getOrElse(default)

  /** Configs for runs timed back to back in one session (Bench, Scale). */
  private val HygieneConf: Map[String, String] = Map(
    // synchronous cleanup: a shuffle the hygiene GC reaps is deleted
    // inside the hygiene window, not mid-way through the next timed run
    // (r6: span_dup_spans warm 25.8s vs cold 2.8s from cleanup alone)
    "spark.cleaner.referenceTracking.blocking" -> "true",
    "spark.cleaner.referenceTracking.blocking.shuffle" -> "true",
    // the app-status stores hold every past execution's metadata live,
    // heap no GC can reclaim (r7: span_scrub_clean warm 2.7s isolated
    // vs 10.9s at position ~135); keep only a handful
    "spark.sql.ui.retainedExecutions" -> "4",
    "spark.ui.retainedJobs" -> "20",
    "spark.ui.retainedStages" -> "20",
    "spark.ui.retainedTasks" -> "200",
    "spark.worker.ui.retainedExecutors" -> "4")

  /** The local session every main runs in: `local[cpus]` with as many
    * shuffle partitions, UTC session time, no UI, Spark logging at
    * WARN; `hygiene` adds the configs for back-to-back timed runs. */
  def session(cpus: Int = Harness.cpus, hygiene: Boolean = false): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(if (hygiene) HygieneConf else Map.empty[String, String])
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  /** Collector time of this JVM so far, in ms. */
  def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum

  /** Storage hygiene, before EVERY timed run: operators release their
    * persisted/checkpointed intermediates by reference, and only a
    * driver GC lets ContextCleaner reap the blocks — else the next run
    * allocates into the last run's dead state and its first natural GC
    * cleans up DURING the measurement (4-9x blowups, r6). The second
    * GC reaps what the first one's finalization queued. */
  def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
    System.gc()
  }

  /** Writes `df` to the noop sink, which materializes EVERY column —
    * `.count()` would let Catalyst prune projection-only queries down
    * to nothing and record fictional times. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One timed run: hygiene, then `build` written to the noop sink.
    * Returns the seconds and the collector ms of the timed region,
    * which includes building the DataFrame. */
  def noopRun(spark: SparkSession)(build: => DataFrame): (Double, Long) = {
    hygiene(spark)
    val g0 = gcMs()
    val t0 = System.nanoTime()
    noop(build)
    ((System.nanoTime() - t0) / 1e9, gcMs() - g0)
  }

  /** Warms the JVM, codegen and parquet-reader paths so the first
    * measured query isn't charged ~6s of one-time infrastructure cost. */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    noop(spark.range(1000).selectExpr("sum(id)"))
    noop(SparkEntry.events(spark, sfDir).limit(10))
  }

  /** A Spark job: wall time from its start and end events (NaN while
    * no end has been seen), its stage and task counts, its call sites. */
  final case class JobRow(id: Int, startMs: Long, endMs: Option[Long],
      stages: Int, tasks: Int, desc: String) {
    def sec: Double = endMs.fold(Double.NaN)(e => (e - startMs) / 1e3)
  }

  /** A completed stage's shuffle read/write and spill. */
  final case class StageRow(id: Int, srRecords: Long, srBytes: Long,
      swRecords: Long, swBytes: Long, spillBytes: Long)

  /** Registers itself on `spark`'s context and records every job and
    * completed stage between two drains. */
  final class RunListener(spark: SparkSession) extends SparkListener {
    private val jobs = mutable.LinkedHashMap[Int, JobRow]()
    private val stages = mutable.ArrayBuffer[StageRow]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = JobRow(e.jobId, e.time, None, e.stageInfos.size,
        e.stageInfos.map(_.numTasks).sum,
        e.stageInfos.map(_.name).distinct.mkString(" | "))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = Some(e.time)))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) synchronized {
        stages += StageRow(e.stageInfo.stageId,
          m.shuffleReadMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.recordsWritten, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

    /** Everything recorded since the last drain, once the listener bus
      * has delivered every event posted so far: the last stages of a
      * finished action never leak into the next run's snapshot. */
    def drain(): (Seq[JobRow], Seq[StageRow]) = {
      GraftColumnBridge.waitUntilEmpty(spark.sparkContext)
      synchronized {
        val out = (jobs.values.toList, stages.toList)
        jobs.clear()
        stages.clear()
        out
      }
    }

    // last, so no event can arrive before the fields above exist
    spark.sparkContext.addSparkListener(this)
  }

  /** Compact JSON text of `v`; object keys keep their order. */
  def json(v: JValue): String = JsonMethods.compact(v)

  def parseJson(s: String): JValue = JsonMethods.parse(s)

  /** `v` rounded half-up to `decimals` places (as `%.Nf` prints it);
    * NaN and infinities are written as `null`. */
  def num(v: Double, decimals: Int): JValue =
    if (v.isNaN || v.isInfinite) JNull
    else JDecimal(BigDecimal(v).setScale(decimals, BigDecimal.RoundingMode.HALF_UP))

  /** The ledger summary (name, count, last detail) as JSON objects. */
  def ledgerSummaryJson(rows: Seq[(String, Long, String)]): JArray =
    JArray(rows.map { case (n, c, d) =>
      JObject("name" -> JString(n), "count" -> JInt(c), "last" -> JString(d))
    }.toList)
}
