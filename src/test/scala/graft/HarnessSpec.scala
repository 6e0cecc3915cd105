package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._
import org.scalatest.funsuite.AnyFunSuite

/** The measurement core shared by the graft mains: its JSON writers
  * read back through json4s whatever the strings hold, the forked
  * bench merges its children's artifacts, knobs fall back instead of
  * crashing, and the listener drains without a timing guess. */
class HarnessSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A quote, a backslash, a tab, a newline and U+0001. */
  val nasty = "q\"b\\t\tn\nc\u0001é"

  private def roundTrip(v: JValue): JValue = Harness.parseJson(Harness.json(v))

  test("a Bench query row reads back, seconds at 3 decimals") {
    val row = roundTrip(Bench.queryLine(nasty, Some(1.23456), None, 7L))
    assert(row \ "name" === JString(nasty))
    assert(row \ "cold" === JDouble(1.235))
    assert(row \ "warm" === JString("error"))
    assert(row \ "gc_ms" === JInt(7))
    assert(Harness.json(Bench.queryLine("q", Some(0.0005), Some(2.0), 0L)) ===
      """{"metric":"query","name":"q","cold":0.001,"warm":2.000,"gc_ms":0}""")
  }

  test("the Bench artifact reads back with its keys in order") {
    val art = roundTrip(Bench.artifact(Seq(nasty -> ((Some(1.5), Some(0.25), 3L))),
      Seq(nasty), Seq((nasty, 2L, nasty)), nasty, 2, forked = None,
      calibration = Some((3.456, Double.NaN))))
    val JObject(fields) = art: @unchecked
    assert(fields.map(_._1) === List("summary", "seed", "fork", "ambient_load",
      "ambient_load_end", "calibration", "order", "queries", "cold_queries",
      "gc_ms", "ledger"))
    assert(art \ "summary" \ "sf" === JString(nasty))
    assert(art \ "summary" \ "errors" === JArray(List(JString(nasty))))
    assert(art \ "queries" \ nasty === JDouble(0.25))
    assert(art \ "calibration" === JObject("scalar_s" -> JDouble(3.46), "spark_s" -> JNull))
    assert(art \ "ledger" === JArray(List(JObject("name" -> JString(nasty),
      "count" -> JInt(2), "last" -> JString(nasty)))))
  }

  test("a Metrics row reads back") {
    val row = roundTrip(Metrics.Row(nasty, nasty, 0.1234567, Some(0.1), None, 3L, nasty).json)
    assert(row \ "name" === JString(nasty))
    assert(row \ "value" === JDouble(0.123457))
    assert(row \ "floor" === JDouble(0.1))
    assert(row \ "ceiling" === JNull)
    assert(row \ "pass" === JBool(true))
    assert(row \ "detail" === JString(nasty))
  }

  test("the oracle map reads back to the same map") {
    val sql = Map(nasty -> s"SELECT '$nasty'", "plain" -> "SELECT 1")
    val JObject(fields) = Harness.parseJson(Verify.oracleJson(sql)): @unchecked
    assert(fields.map { case (k, JString(v)) => k -> v; case (k, v) => k -> v.toString }
      .toMap === sql)
  }

  test("a Scale note reads back; funnels without a note are left out") {
    assert(roundTrip(Scale.notesJson(Seq("a", "b"), Map("a" -> nasty))) ===
      JObject("a" -> JString(nasty)))
  }

  test("numbers keep the printf rounding; NaN and infinity are null") {
    for (v <- Seq(0.00005, 1.23455, 2.5e-7, 123456.78915, -0.61235); d <- Seq(3, 4, 6))
      assert(Harness.json(Harness.num(v, d)) ===
        String.format(java.util.Locale.ROOT, s"%.${d}f", Double.box(v)), s"$v at $d")
    assert(Harness.num(Double.NaN, 4) === JNull)
    assert(Harness.num(Double.PositiveInfinity, 4) === JNull)
  }

  private def child(results: Seq[Bench.Res], ledger: Seq[Bench.LedgerRow]): JValue =
    roundTrip(Bench.artifact(results, Nil, ledger, "sf", 2, forked = None))

  test("the fork merge sums ledger counts across child artifacts") {
    val a = child(Seq("q1" -> ((Some(1.0), Some(0.5), 1L))),
      Seq(("cap", 2L, "first"), ("scrub", 1L, "s")))
    val b = child(Seq("q2" -> ((Some(1.0), Some(0.5), 1L))), Seq(("cap", 3L, "latest")))
    assert(Bench.mergedLedger(Seq(a, JNothing, b)) ===
      Seq(("cap", 5L, "latest"), ("scrub", 1L, "s")))
  }

  test("the fork merge reports a query its child did not record as an error") {
    val art = child(Seq("q1" -> ((Some(1.25), Some(0.5), 4L))), Nil)
    assert(Bench.childResults(Seq("q1", "q2"), art) ===
      Seq("q1" -> ((Some(1.25), Some(0.5), 4L)), "q2" -> ((None, None, 0L))))
    // a child that died before writing its artifact
    assert(Bench.childResults(Seq("q1"), JNothing) === Seq("q1" -> ((None, None, 0L))))
    val errored = Harness.json(Bench.queryLine("q2", None, None, 0L))
    assert(errored === """{"metric":"query","name":"q2","cold":"error","warm":"error","gc_ms":0}""")
  }

  test("a malformed warm-runs value falls back to 2") {
    for (v <- Seq(None, Some(""), Some("two"), Some("0"), Some("-1"), Some("2.5")))
      assert(Harness.positive(v, 2) === 2, v)
    assert(Harness.positive(Some(" 3 "), 2) === 3)
  }

  test("the listener drains a finished action's job and stages without sleeping") {
    val l = new Harness.RunListener(spark)
    try {
      l.drain()
      spark.range(0, 1000, 1, 4).groupBy(col("id") % 7).count().collect()
      val (jobs, stages) = l.drain()
      assert(jobs.nonEmpty && jobs.forall(j => !j.sec.isNaN && j.stages > 0 && j.tasks > 0))
      assert(stages.map(_.swRecords).sum > 0, stages)
      assert(l.drain() === ((Nil, Nil)))
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
