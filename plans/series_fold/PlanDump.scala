import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Timeseries
import graft.model._
import graft.time.TimeStep

/** Prints the count-fold plans the perfbench kairos_store and
  * stream_ingest workloads run (the same intervals, a double and a
  * decimal(12,2) store), optimized and physical, with expression ids,
  * paths and object hashes normalized so two builds diff cleanly.
  *
  * Compile against graft's classes and Spark's jars with scalac, then
  * run `PlanDump` with the same classpath (plus the JDK --add-opens
  * flags Spark needs); stdout is the dump. */
object PlanDump {
  def norm(s: String): String = s.replaceAll("#\\d+L?", "#N")
    .replaceAll("file:[^ ,\\]\\)]+", "file:<path>")
    .replaceAll("operatorId = \\d+", "operatorId = N")
    .replaceAll("runId = [0-9a-f-]+", "runId = <id>")
    .replaceAll("queryId = [0-9a-f-]+", "queryId = <id>")
    .replaceAll("checkpoint[^ ,\\]\\)]*", "<ckpt>")
    .replaceAll("MemoryStream\\[[^\\]]*\\]", "MemoryStream[..]")
    .replaceAll("Some\\(\\d{10,}\\)", "Some(<ts>)")
    .replaceAll("\\b\\d{12,}\\b", "<num>")
    .replaceAll("@[0-9a-f]{6,}", "@<obj>")
    .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>")
    .replaceAll("plan_id=\\d+", "plan_id=N")

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC").config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val out = new StringBuilder
    def section(name: String, plan: String) = out ++= s"=== $name\n${norm(plan)}\n"
    val T0 = 1700000000L
    // kairos_store: count store, minute + hour@minute
    val kairos = Map("minute" -> IntervalSpec(TimeStep(60L)),
      "hour" -> IntervalSpec(TimeStep(3600L), None, Some(TimeStep(60L))))
    for ((label, vt) <- Seq("double" -> DoubleType, "decimal(12,2)" -> DecimalType(12, 2))) {
      val t = new Timeseries(spark, CountT, kairos, valueType = vt)
      val ev = (0 until 50).map(i => (s"s${i % 3}", T0 + i * 37L, i.toDouble * 0.5, i.toLong)).toDF("name", "ts", "value", "seq")
        .select(col("name"), timestamp_seconds(col("ts")).as("ts"), col("value"), col("seq"))
      val dir = java.nio.file.Files.createTempDirectory("plandump").toString + "/store"
      t.attach(t.bucketize(ev, col("name"), col("ts"), col("value"), col("seq"))).save(dir)
      val r = new Timeseries(spark, CountT, kairos, valueType = vt).load(dir)
      for (c <- Seq(false, true)) {
        val g = r.get(Seq("s1"), "minute", (T0 + 100).toDouble, condense = c)
        section(s"kairos count[$label] get(minute, condense=$c) schema=${g.schema.simpleString}", g.queryExecution.optimizedPlan.toString + g.queryExecution.executedPlan.toString)
        val sr = r.series(Seq("s0", "s1"), "hour", start = Some(T0.toDouble), steps = Some(2), condense = c)
        section(s"kairos count[$label] series(hour, condense=$c) schema=${sr.schema.simpleString}", sr.queryExecution.optimizedPlan.toString + sr.queryExecution.executedPlan.toString)
      }
      // stream_ingest: count streamAggregate over minute with a TTL horizon
      val st = new Timeseries(spark, CountT, Map("minute" -> IntervalSpec(TimeStep(60L), Some(30))), valueType = vt)
      val mem = MemoryStream[(String, Long, Double)]
      val events = mem.toDF().select(col("_1").as("name"), timestamp_seconds(col("_2")).as("ts"), col("_3").as("value"))
      val agg = st.streamAggregate(events, "minute", col("name"), col("ts"), col("value"))
      val q = agg.writeStream.format("memory").queryName(s"pd_${label.filter(_.isLetter)}").outputMode("append").start()
      mem.addData((0 until 20).map(i => (s"s${i % 3}", T0 + i * 11L, i * 0.25)))
      q.processAllAvailable()
      val ex = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      section(s"stream_ingest count[$label] streamAggregate(minute) schema=${agg.schema.simpleString}", ex.optimizedPlan.toString + ex.executedPlan.toString)
      q.stop()
    }
    print(out)
    spark.stop()
  }
}
