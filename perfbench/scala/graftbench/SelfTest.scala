package graftbench

import scala.collection.mutable
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** Tests of the benchmark's own helpers: the tail rule, interval unions
  * and self time, metric-name validation, that every correctness check
  * fails on a deliberately wrong result, and that the traced run counts
  * each SQL execution once. Run with
  * `python3 perfbench/run.py --selftest`; exits non-zero on a failure. */
object SelfTest {
  private var failed = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = scala.util.Try(cond).getOrElse(false)
    if (ok) passed += 1 else { failed += 1; println(s"FAIL $name") }
  }

  def main(args: Array[String]): Unit = {
    tailRule()
    intervals()
    names()
    kairosCheck()
    streamCheck()
    curationCheck()
    tracing()
    println(s"selftest: $passed passed, $failed failed")
    if (failed > 0) sys.exit(1)
  }

  def tailRule(): Unit = {
    check("tail: no value with ten samples or fewer")(
      Stats.tail(Seq.fill(10)(1.0)).isEmpty && Stats.tail(Nil).isEmpty)
    check("tail: eleven samples give the smallest, at p9.1") {
      val t = Stats.tail((1 to 11).map(_.toDouble).reverse).get
      t.value == 1.0 && math.abs(t.percentile - 100.0 / 11) < 1e-9 && t.samples == 11
    }
    check("tail: 100 samples give p90") {
      val t = Stats.tail((1 to 100).map(_.toDouble)).get
      t.value == 90.0 && t.percentile == 90.0
    }
    check("tail: exactly ten samples lie beyond the value") {
      val xs = (1 to 57).map(i => (i * 37 % 57).toDouble)
      val t = Stats.tail(xs).get
      xs.count(_ > t.value) == 10
    }
    check("median: odd and even counts")(
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    check("trimmed mean drops a quarter at each end")(
      Stats.trimmedMean(Seq(100.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 0.0)) == 3.5 &&
        Stats.trimmedMean(Seq(7.0, 1.0, 4.0)) == 4.0)
    check("geoMean")(math.abs(Stats.geoMean(Seq(2.0, 8.0)) - 4.0) < 1e-12)
  }

  def intervals(): Unit = {
    check("union: disjoint")(Stats.unionLength(Seq((0L, 10L), (20L, 25L))) == 15)
    check("union: overlapping and nested")(
      Stats.unionLength(Seq((0L, 10L), (5L, 15L), (6L, 7L), (30L, 31L))) == 16)
    check("union: touching, unsorted, empty")(
      Stats.unionLength(Seq((10L, 20L), (0L, 10L), (5L, 5L))) == 20 && Stats.unionLength(Nil) == 0)
    check("self time: children clipped to the span")(
      Stats.selfTime((100L, 200L), Seq((90L, 120L), (150L, 160L), (155L, 170L), (190L, 260L))) == 50)
    check("self time: no children")(Stats.selfTime((0L, 50L), Nil) == 50)
  }

  def names(): Unit = {
    check("name: accepts letters, digits, _ . -")(
      Seq("setup_s", "get.scan.records_per_result", "a-b.c_1", "9x").forall(Stats.validName))
    check("name: rejects other characters, leading punctuation, >64")(
      Seq("", ".x", "_x", "a b", "a/b", "a:b", "é", "x" * 65).forall(n => !Stats.validName(n)))
    val all = Main.EndToEnd.map(_._1) ++ Layers.all.map(_._1)
    check("every metric name is valid")(all.forall(Stats.validName))
    check("every metric name is used once")(all.distinct.size == all.size)
    check("per-layer metrics stay within 128")(Layers.all.size <= 128)
    val units = Main.EndToEnd ++ Layers.all
    check("units are short and plain")(units.forall { case (_, u) => u.matches("[A-Za-z0-9_/%.-]{1,16}") })
    // the benchmark's declaration must list exactly what a run prints
    val decl = java.nio.file.Paths.get("BENCHMARK.json")
    if (java.nio.file.Files.exists(decl)) {
      import org.json4s._
      val json = org.json4s.jackson.JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(decl), "UTF-8"))
      def listed(key: String): Seq[(String, String)] = (json \ key) match {
        case JArray(xs) => xs.map(x => ((x \ "name"): @unchecked) match {
          case JString(n) => n -> ((x \ "unit") match { case JString(u) => u; case _ => "" })
        })
        case _ => Nil
      }
      check("BENCHMARK.json end_to_end matches the run")(listed("end_to_end").toSet == Main.EndToEnd.toSet)
      check("BENCHMARK.json per_layer matches the traced run")(listed("per_layer").toSet == Layers.all.toSet)
      check("BENCHMARK.json workloads match")((json \ "workloads" \ "name") match {
        case JArray(xs) => xs.collect { case JString(n) => n }.toSet ==
          Set("kairos_store", "curation_batch", "stream_ingest")
        case _ => false
      })
    }
  }

  def kairosCheck(): Unit = {
    val idx = new MinuteIndex
    val t = Gen.T0 + 3600 * 5 // 05:00
    idx.add(7, t + 10, 2); idx.add(7, t + 20, 2); idx.add(7, t + 70, 5); idx.add(8, t + 130, 1)
    check("expected get: minute bucket sums and fills empty")(
      idx.get(7, "minute", t + 30, condense = false, hist = false) == Seq(Bucket(t, -1, 4.0)) &&
        idx.get(7, "minute", t + 400, condense = false, hist = false) == Seq(Bucket(t + 360, -1, 0.0)))
    check("expected get: hour granules and condensed histogram")(
      idx.get(7, "hour", t, condense = false, hist = false) ==
        Seq(Bucket(t, t, 4.0), Bucket(t, t + 60, 5.0)) &&
        idx.get(7, "hour", t, condense = true, hist = true) == Seq(Bucket(t, -1, Map(2.0 -> 2L, 5.0 -> 1L))))
    check("expected series: joined, sparse when condensed")(
      idx.series(Seq(7, 8), t / 3600 - 1, t / 3600 + 1, condense = true, hist = false) ==
        Seq(Bucket(t, -1, 10.0)))

    val schema = StructType(Seq(StructField("i_time", LongType), StructField("r_time", LongType),
      StructField("value", DoubleType)))
    def row(i: Long, r: Long, v: Double): Row = new GenericRowWithSchema(Array[Any](i, r, v), schema)
    val want = idx.get(7, "hour", t, condense = false, hist = false)
    val right = Seq(row(t, t, 4.0), row(t, t + 60, 5.0))
    check("kairos check passes a right result")(Expected.diff(Expected.buckets(right), want).isEmpty)
    check("kairos check fails a wrong value")(
      Expected.diff(Expected.buckets(Seq(row(t, t, 4.0), row(t, t + 60, 6.0))), want).isDefined)
    check("kairos check fails a missing row")(
      Expected.diff(Expected.buckets(right.take(1)), want).isDefined)
    check("kairos check fails a wrong key")(
      Expected.diff(Expected.buckets(Seq(row(t, t, 4.0), row(t, t + 120, 5.0))), want).isDefined)
    val hschema = StructType(Seq(StructField("i_time", LongType),
      StructField("value", MapType(DoubleType, LongType))))
    val h = Seq(new GenericRowWithSchema(Array[Any](t, Map(2.0 -> 2L, 5.0 -> 2L)), hschema))
    check("kairos check fails a wrong histogram")(
      Expected.diff(Expected.buckets(h), idx.get(7, "hour", t, condense = true, hist = true)).isDefined)
  }

  def streamCheck(): Unit = {
    def key(stat: Int, minute: Long) = (stat.toLong << 32) | minute
    val m0 = Gen.T0 / 60
    val expected = mutable.LongMap(key(1, m0) -> 3.0, key(2, m0) -> 1.0, key(1, m0 + 10) -> 2.0)
    val emittedBy = (m0 + 1) * 60 // both m0 buckets are final, m0+10 is not
    val right = Seq(("stat0001", m0, -1L, 3.0), ("stat0002", m0, -1L, 1.0))
    check("stream check passes the right final buckets")(
      StreamIngest.check(right, expected, emittedBy).isEmpty)
    check("stream check fails a wrong value")(
      StreamIngest.check(Seq(("stat0001", m0, -1L, 4.0), right(1)), expected, emittedBy).nonEmpty)
    check("stream check fails a missing final bucket")(
      StreamIngest.check(right.take(1), expected, emittedBy).nonEmpty)
    check("stream check fails a duplicate bucket")(
      StreamIngest.check(right :+ right(0), expected, emittedBy).nonEmpty)
    check("stream check fails an unexpected bucket")(
      StreamIngest.check(right :+ (("stat0003", m0, -1L, 1.0)), expected, emittedBy).nonEmpty)
  }

  def curationCheck(): Unit = {
    val rows = Seq(Row(1L, "a", 0.5, Seq(1, 2)), Row(2L, "b", 1.0 / 3, Seq(3)))
    val d = Golden.digest(rows)
    check("digest ignores row order")(Golden.digest(rows.reverse) == d)
    check("digest ignores last-bit float noise")(
      Golden.digest(Seq(rows(0), Row(2L, "b", 1.0 / 3 + 1e-15, Seq(3)))) == d)
    val golden = Map("q" -> d)
    check("curation check passes the golden result")(CurationBatch.verify(Map("q" -> d), golden).isEmpty)
    check("curation check fails a changed value")(CurationBatch.verify(
      Map("q" -> Golden.digest(Seq(rows(0), Row(2L, "b", 0.25, Seq(3))))), golden).nonEmpty)
    check("curation check fails a missing row")(
      CurationBatch.verify(Map("q" -> Golden.digest(rows.take(1))), golden).nonEmpty)
    check("curation check fails a query without golden")(
      CurationBatch.verify(Map("r" -> d), golden).nonEmpty)
  }

  /** Two calls of one parquet collect each, on a small traced session:
    * one SQL execution per call, with its scan and phases filed once. */
  def tracing(): Unit = {
    val tmp = sys.props("java.io.tmpdir")
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
      .appName("graftbench-selftest").config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse").getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      val path = s"$tmp/selftest.parquet"
      spark.range(1000).coalesce(1).write.mode("overwrite").parquet(path)
      val rec = new Recorder(spark, traced = true)
      (0 until 2).foreach { _ =>
        rec.call("get", "collect") { sc =>
          sc.result(spark.read.parquet(path).filter("id < 10").collect().length)
        }
      }
      val tracer = rec.tracer.get
      tracer.finish()
      val l = tracer.layers(rec.all, 2)
      check("trace: one collect is one SQL execution")(
        l("sql.executions") == 1.0 && rec.all.forall(c => tracer.execsOf(c).size == 1))
      check("trace: the scan is filed once per execution")(
        l("scan.files") == 1.0 && l("scan.records_per_result") == 100.0)
      check("trace: the execution carries its query phases")(
        rec.all.flatMap(tracer.execsOf).forall(_.phasesMs.contains("planning")))
    } finally spark.stop()
  }
}
