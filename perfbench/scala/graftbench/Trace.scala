package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBenchBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.metrics.source.CodegenMetrics

/** One call the benchmark made into a graft layer. Times are epoch
  * milliseconds (Spark's event clock) plus a nanosecond duration for the
  * latency itself. `phases` are the call's own child spans (e.g. `build`
  * for the graft call that returns a DataFrame, `action` for the job
  * that materializes it). `counters` holds what was sampled around the
  * call in a traced run. */
final case class Call(id: Int, kind: String, name: String, timed: Boolean,
    startMs: Long, endMs: Long, nanos: Long,
    phases: Seq[(String, Long, Long)], resultRows: Long,
    counters: Map[String, Double]) {
  def ms: Double = nanos / 1e6
}

/** Records the benchmark's calls. Untraced, it only times them. Traced,
  * it also tags each call's Spark jobs with a local property, samples
  * the JVM-wide counters around it, and collects listener events that
  * [[Tracer]] turns into spans and per-layer metrics. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val calls = mutable.ArrayBuffer[Call]()
  private var nextId = 0
  val tracer: Option[Tracer] = if (traced) Some(new Tracer(spark)) else None

  def all: Seq[Call] = calls.toSeq

  /** Time `body` as one call. The body may mark sub-phases through the
    * given scope and report how many result rows it produced. */
  def call[A](kind: String, name: String, timed: Boolean = true)(body: Scope => A): A = {
    nextId += 1
    val id = nextId
    val scope = new Scope
    val before = tracer.map(_.sample())
    val sc = spark.sparkContext
    if (traced) sc.setLocalProperty(Tracer.CallProp, id.toString)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body(scope)
    finally {
      val nanos = System.nanoTime() - t0
      val endMs = System.currentTimeMillis()
      if (traced) {
        sc.setLocalProperty(Tracer.CallProp, null)
        sc.setLocalProperty(Tracer.PhaseProp, null)
      }
      val counters = (for (b <- before; t <- tracer) yield t.delta(b, t.sample()))
        .getOrElse(Map.empty)
      calls += Call(id, kind, name, timed, startMs, endMs, nanos,
        scope.phases.toSeq, scope.rows, counters)
    }
  }

  /** Run `body` with the call tags cleared, for calls that start a
    * long-lived Spark thread (a streaming query) that would otherwise
    * inherit them. */
  def untagged[A](body: => A): A = {
    val sc = spark.sparkContext
    val saved = Seq(Tracer.CallProp, Tracer.PhaseProp).map(k => k -> sc.getLocalProperty(k))
    saved.foreach { case (k, _) => sc.setLocalProperty(k, null) }
    try body finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  final class Scope {
    private[Recorder] val phases = mutable.ArrayBuffer[(String, Long, Long)]()
    private[Recorder] var rows = 0L
    def result(n: Long): Unit = rows = n
    def phase[A](name: String)(body: => A): A = {
      if (traced) spark.sparkContext.setLocalProperty(Tracer.PhaseProp, name)
      val s = System.currentTimeMillis()
      try body
      finally {
        phases += ((name, s, System.currentTimeMillis()))
        if (traced) spark.sparkContext.setLocalProperty(Tracer.PhaseProp, null)
      }
    }
  }
}

/** Spark-side span collection for a traced run: jobs, stages, task
  * metrics and SQL executions, each linked to the benchmark call that
  * caused it (by the local property the recorder sets, or, for work
  * started on Spark's own threads such as a streaming trigger, by the
  * call whose interval contains it — calls never overlap, the client is
  * a closed loop). */
final class Tracer(spark: SparkSession) {
  import Tracer._

  final class JobRec(val id: Int, val call: Option[Int], val phase: Option[String],
      val startMs: Long, val stages: Seq[Int]) { var endMs = startMs }
  final class StageRec {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var deserMs = 0L; var delayMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var inputBytes = 0L; var inputRecords = 0L; var outputBytes = 0L
  }
  /** A SQL execution. `rootId` differs from `id` for a sub-execution
    * that Spark starts inside another one (a streaming sink's write runs
    * the micro-batch's query execution again under a nested id). */
  final class ExecRec(val id: Long, val startMs: Long, val rootId: Long) {
    def root: Boolean = rootId == id
    var endMs = startMs
    var phasesMs = Map.empty[String, Long]
    var scanFiles = 0L; var scanRows = 0L; var writeFiles = 0L
  }

  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.HashMap[Int, StageRec]()
  val execs = mutable.LinkedHashMap[Long, ExecRec]()
  // query executions already filed, so one that ends under two
  // execution ids has its phases and plan metrics counted once
  private val filed = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]())

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val p = Option(e.properties)
      val call = p.flatMap(x => Option(x.getProperty(CallProp))).map(_.toInt)
      val phase = p.flatMap(x => Option(x.getProperty(PhaseProp)))
      jobs(e.jobId) = new JobRec(e.jobId, call, phase, e.time, e.stageIds)
      e.stageIds.foreach(s => stages.getOrElseUpdate(s, new StageRec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      val m = e.taskMetrics
      if (m != null) stages.get(e.stageId).foreach { s =>
        val i = e.taskInfo
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.deserMs += m.executorDeserializeTime
        // the UI's scheduler delay: task lifetime not spent deserializing,
        // running, serializing the result or shipping it back
        s.delayMs += math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L))
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => jobs.synchronized {
        execs(s.executionId) = new ExecRec(s.executionId, s.time,
          s.rootExecutionId.getOrElse(s.executionId))
      }
      case s: SparkListenerSQLExecutionEnd =>
        val qe = GraftBenchBridge.queryExecution(s)
        jobs.synchronized {
          execs.get(s.executionId).foreach { rec =>
            rec.endMs = s.time
            qe.filter(filed.add).foreach(record(rec, _))
          }
        }
      case _ =>
    }
  }

  /** The ended execution's query phases and its plan's scan and write
    * metrics, filed under the execution the event names. */
  private def record(rec: ExecRec, qe: QueryExecution): Unit = {
    planNodes(qe.executedPlan).foreach { n =>
      def metric(k: String) = n.metrics.get(k).map(_.value).getOrElse(0L)
      n match {
        case _: DataWritingCommandExec => rec.writeFiles += metric("numFiles")
        case _ if n.getClass.getSimpleName.contains("Scan") && n.metrics.contains("numFiles") =>
          rec.scanFiles += metric("numFiles")
          rec.scanRows += metric("numOutputRows")
        case _ =>
      }
    }
    rec.phasesMs = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
  }

  spark.sparkContext.addSparkListener(listener)

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val memBean = ManagementFactory.getMemoryMXBean

  /** JVM-wide counters sampled around each call. */
  def sample(): Map[String, Double] = Map(
    "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6,
    "jvm.gc_ms" -> gcBeans.map(_.getCollectionTime).sum.toDouble,
    "ledger.engagements" -> graft.ops.Ledger.summary().map(_._2).sum.toDouble)

  def delta(before: Map[String, Double], after: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before(k)) } +
      ("jvm.heap_mb" -> memBean.getHeapMemoryUsage.getUsed / 1048576.0)

  /** Wait for every posted listener event, then stop listening. */
  def finish(): Unit = {
    GraftBenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  private def within(c: Call, t: Long): Boolean = t >= c.startMs && t <= c.endMs

  /** The call that caused a job: its local property, else its start time. */
  def jobsOf(c: Call): Seq[JobRec] = jobs.values.filter { j =>
    j.call.contains(c.id) || (j.call.isEmpty && within(c, j.startMs))
  }.toSeq

  def execsOf(c: Call): Seq[ExecRec] = execs.values.filter(e => within(c, e.startMs)).toSeq

  /** Spans for the trace file: calls, their phases, their jobs and SQL
    * executions, each with a parent and the call id. */
  def spans(calls: Seq[Call]): Seq[Map[String, Any]] = calls.flatMap { c =>
    val callSpan = Map("name" -> s"${c.kind}:${c.name}", "start" -> c.startMs,
      "end" -> c.endMs, "parent" -> null, "call" -> c.id, "timed" -> c.timed)
    val phases = c.phases.map { case (n, s, e) =>
      Map("name" -> s"phase:$n", "start" -> s, "end" -> e, "parent" -> s"call:${c.id}", "call" -> c.id)
    }
    val js = jobsOf(c).map { j =>
      Map("name" -> s"job:${j.id}", "start" -> j.startMs, "end" -> j.endMs,
        "parent" -> j.phase.map(p => s"phase:$p").getOrElse(s"call:${c.id}"), "call" -> c.id,
        "stages" -> j.stages)
    }
    val es = execsOf(c).map { e =>
      Map("name" -> s"sql:${e.id}", "start" -> e.startMs, "end" -> e.endMs,
        "parent" -> (if (e.root) s"call:${c.id}" else s"sql:${e.rootId}"), "call" -> c.id,
        "phases_ms" -> e.phasesMs)
    }
    callSpan +: (phases ++ js ++ es)
  }

  /** Per-layer metrics over a group of calls, as means per call (ratios
    * are ratios of the group's totals). */
  def layers(group: Seq[Call], cores: Int): Map[String, Double] = {
    val n = math.max(1, group.size).toDouble
    val js = group.flatMap(jobsOf)
    val st = js.flatMap(_.stages).distinct.flatMap(stages.get)
    val es = group.flatMap(execsOf)
    val jobMs = group.map(c => Stats.unionLength(jobsOf(c).map(j => (j.startMs, j.endMs)))).sum
    val outsideMs = group.map(c => Stats.selfTime((c.startMs, c.endMs),
      jobsOf(c).map(j => (j.startMs, j.endMs)))).sum
    val runMs = st.map(_.runMs).sum
    val results = group.map(_.resultRows).sum
    val scanRows = es.map(_.scanRows).sum
    def counter(k: String) = group.map(_.counters.getOrElse(k, 0.0)).sum
    def phase(p: String) = es.map(_.phasesMs.getOrElse(p, 0L)).sum
    val mb = 1048576.0
    Map(
      "sql.executions" -> es.count(_.root) / n,
      "sql.analysis_ms" -> phase("analysis") / n,
      "sql.optimization_ms" -> phase("optimization") / n,
      "sql.planning_ms" -> phase("planning") / n,
      "codegen.compiles" -> counter("codegen.compiles") / n,
      "codegen.compile_ms" -> counter("codegen.compile_ms") / n,
      "scheduler.jobs" -> js.size / n,
      "scheduler.stages" -> st.size / n,
      "scheduler.tasks" -> st.map(_.tasks).sum / n,
      "scheduler.job_ms" -> jobMs / n,
      "scheduler.outside_jobs_ms" -> outsideMs / n,
      "scheduler.task_delay_ms" -> st.map(_.delayMs).sum / n,
      "executor.run_ms" -> runMs / n,
      "executor.cpu_ms" -> st.map(_.cpuNs).sum / 1e6 / n,
      "executor.deserialize_ms" -> st.map(_.deserMs).sum / n,
      "executor.busy_frac" -> (if (jobMs > 0) runMs / (cores.toDouble * jobMs) else 0.0),
      "shuffle.write_mb" -> st.map(_.shuffleWrite).sum / mb / n,
      "shuffle.read_mb" -> st.map(_.shuffleRead).sum / mb / n,
      "shuffle.spill_mb" -> st.map(_.spill).sum / mb / n,
      "scan.read_mb" -> st.map(_.inputBytes).sum / mb / n,
      "scan.records" -> st.map(_.inputRecords).sum / n,
      "scan.files" -> es.map(_.scanFiles).sum / n,
      "scan.records_per_result" -> (if (results > 0) scanRows.toDouble / results else 0.0),
      "write.mb" -> st.map(_.outputBytes).sum / mb / n,
      "write.files" -> es.map(_.writeFiles).sum / n,
      "jvm.gc_ms" -> counter("jvm.gc_ms") / n,
      "jvm.heap_mb" -> counter("jvm.heap_mb") / n,
      "ledger.engagements" -> counter("ledger.engagements") / n)
  }
}

object Tracer {
  val CallProp = "graftbench.call"
  val PhaseProp = "graftbench.phase"

  /** Every node of an executed plan, through adaptive stages, command
    * wrappers and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => s +: planNodes(s.plan)
    case c: CommandResultExec => c +: planNodes(c.commandPhysicalPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }
}
