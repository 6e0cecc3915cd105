package graft
/** Plan auditor: prints the formatted physical plan of selected
  * SparkEntry queries (all when no args), each headed by the Spark
  * jobs its construction ran (eager fits, persists, collects). Usage:
  *   sbt "runMain graft.Explain q1_pricing_summary ts_count_minute"
  * Inspect for: PushedFilters reaching the parquet scan, pruned
  * ReadSchema, partial HashAggregate before the exchange, broadcast on
  * the small join side, WholeStageCodegen span width. Run with
  * SPARK_GRAFT_EAGER_PAIRS=0 to see the full LSH pair funnels (by
  * default those queries eagerly checkpoint their result for cache
  * hygiene, which collapses the audited plan to an RDD scan). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new Harness.RunListener(spark)
    val wanted = if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    for (name <- wanted; fn <- SparkEntry.queries.get(name)) {
      println(s"\n================ $name ================")
      try {
        listener.drain()
        val df = fn(spark, sfDir)
        val (jobs, _) = listener.drain()
        println(s"[explain] construction ran ${jobs.size} Spark jobs, " +
          s"${jobs.map(_.stages).sum} stages, ${jobs.map(_.tasks).sum} tasks")
        jobs.foreach(j => println(s"[explain]   job: ${j.stages} stages, ${j.tasks} tasks, ${j.desc}"))
        df.explain("formatted")
      } catch { case e: Throwable => println(s"[explain] failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
