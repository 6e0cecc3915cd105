package graft

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.concurrent.ConcurrentLinkedQueue

/** Plan auditor: prints the formatted physical plan of selected
  * SparkEntry queries (all when no args), each headed by the Spark
  * jobs its construction ran (eager fits, persists, collects, pins)
  * and the executed plan of every action behind those jobs, and
  * followed by the jobs and the executed (final adaptive) plan of one
  * run of the query into the noop sink. Usage:
  *   sbt "runMain graft.Explain q1_pricing_summary ts_count_minute"
  * Inspect for: PushedFilters reaching the parquet scan, pruned
  * ReadSchema, partial HashAggregate before the exchange, broadcast on
  * the small join side, WholeStageCodegen span width. A funnel that
  * pins its result (the LSH pair funnels, the LM scorers) returns a
  * plan that starts at the pinned RDD scan; its full funnel — band
  * self-join, signature prefilter, verify join — is the executed plan
  * of the pin's `localCheckpoint` action printed above it. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new Harness.RunListener(spark)
    val actions = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.add(action -> qe)
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    // the jobs and the executed plan of every action since the last drain
    def report(phase: String): Unit = {
      val (jobs, _) = listener.drain()
      println(s"[explain] $phase ran ${jobs.size} Spark jobs, " +
        s"${jobs.map(_.stages).sum} stages, ${jobs.map(_.tasks).sum} tasks")
      jobs.foreach(j => println(s"[explain]   job: ${j.stages} stages, ${j.tasks} tasks, ${j.desc}"))
      while (!actions.isEmpty) {
        val (action, qe) = actions.poll()
        println(s"[explain] $phase action: $action")
        println(qe.explainString(FormattedMode))
      }
    }
    val wanted = if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    for (name <- wanted; fn <- SparkEntry.queries.get(name)) {
      println(s"\n================ $name ================")
      try {
        listener.drain() // also delivers every action event posted so far
        actions.clear()
        val df = fn(spark, sfDir)
        report("construction")
        println("[explain] query plan:")
        df.explain("formatted")
        df.write.format("noop").mode("overwrite").save()
        report("run")
      } catch { case e: Throwable => println(s"[explain] failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
