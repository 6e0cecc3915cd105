package graft
/** Plan auditor: prints the formatted physical plan of selected
  * SparkEntry queries (all when no args). Usage:
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
    val wanted = if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    for (name <- wanted; fn <- SparkEntry.queries.get(name)) {
      println(s"\n================ $name ================")
      try fn(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"[explain] failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
