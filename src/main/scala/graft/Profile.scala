package graft

/** Per-job profiler for the bench queries: runs each named query once
  * (same noop-sink methodology as [[Bench]]) with a listener that
  * prints every Spark job's wall time, stage count and task count —
  * the attribution tool for overhead-dominated sf0.1 timings (guide
  * §1.1: decide whether time goes to compute, shuffle, or scheduling
  * before optimizing). Usage: Profile <query> [query...]. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    val listener = new Harness.RunListener(spark)
    Harness.warmup(spark, sfDir)
    for (name <- args) {
      val fn = SparkEntry.queries(name)
      // one untimed run to populate memo stores, then the profiled run
      Harness.noop(fn(spark, sfDir))
      listener.drain()
      val t0 = System.nanoTime()
      Harness.noop(fn(spark, sfDir))
      val total = (System.nanoTime() - t0) / 1e9
      println(f"==== $name total ${total}%.2fs ====")
      val (jobs, _) = listener.drain()
      var acc = 0.0
      for (j <- jobs) {
        val d = j.sec
        acc += (if (d.isNaN) 0 else d)
        println(f"  job ${j.id}%4d ${d}%7.3fs stages=${j.stages}%2d tasks=${j.tasks}%4d ${j.desc.take(90)}")
      }
      println(f"  [sum of jobs ${acc}%.2fs over ${jobs.size} jobs; gaps = driver/planning time]")
    }
    spark.stop()
  }
}
