package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface resolves and returns the same values as the Column
  * API, and literal-parameter misuse fails analysis loudly. */
class GraftExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftExtensions.register(s)
    s
  }

  test("count_by_value aggregate resolves through SQL and counts per value") {
    import spark.implicits._
    Seq(("g", 1.0), ("g", 2.0), ("g", 1.0), ("h", 3.0))
      .toDF("k", "v").createOrReplaceTempView("tcv")
    val m = spark.sql(
      "SELECT k, graft_count_by_value(v) AS h FROM tcv GROUP BY k ORDER BY k")
      .collect().map(r => r.getString(0) -> r.getMap[Double, Long](1)).toMap
    assert(m("g") === Map(1.0 -> 2L, 2.0 -> 1L))
    assert(m("h") === Map(3.0 -> 1L))
  }

  test("bounded_collect aggregate resolves through SQL: order-smallest prefix, distinct mode") {
    import spark.implicits._
    Seq(("g", 3L, 30.0), ("g", 1L, 10.0), ("g", 2L, 20.0), ("g", 2L, 20.0))
      .toDF("k", "o", "v").createOrReplaceTempView("tbc")
    val rows = spark.sql(
      """SELECT k,
           graft_bounded_collect(o, v, 2, false) AS series,
           graft_bounded_collect(v, v, 2, true) AS distinct_set
         FROM tbc GROUP BY k""").head()
    // series: cap-2 earliest by (ord, value), WITH multiplicity
    assert(rows.getSeq[Double](1) === Seq(10.0, 20.0))
    // set: cap-2 smallest distinct values
    assert(rows.getSeq[Double](2) === Seq(10.0, 20.0))
  }

  test("SQL values match the Column API bit-for-bit") {
    import spark.implicits._
    val df = Seq("the quick brown fox the quick").toDF("x")
    df.createOrReplaceTempView("t2")
    val viaSql = spark.sql(
      "SELECT graft_simhash64(x) AS a, graft_word_gram_hashes(x, 2) AS b FROM t2")
      .head()
    val viaCol = df.select(
      graft.functions.GraftFunctions.simhash64(col("x")),
      graft.functions.GraftFunctions.wordGramHashes(col("x"), 2)).head()
    assert(viaSql.getLong(0) === viaCol.getLong(0))
    assert(viaSql.getSeq[Long](1) === viaCol.getSeq[Long](1))
  }

  test("wrong arity fails with a named, counted error") {
    import spark.implicits._
    Seq("a b").toDF("x").createOrReplaceTempView("ta")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_jaccard(split(x, ' ')) FROM ta").collect()
    }
    assert(e.getMessage.contains("graft_jaccard expects 2 argument(s), got 1"))
  }

  test("lang marker counts resolve through SQL") {
    import spark.implicits._
    Seq("the cat and the dog").toDF("x").createOrReplaceTempView("tl")
    val counts = spark.sql("SELECT graft_lang_marker_counts(x) FROM tl")
      .head().getSeq[Long](0)
    assert(counts.head === 3L) // en markers: the ×2, and
  }

  test("non-literal integer parameter fails loudly") {
    import spark.implicits._
    Seq(("a b", 2)).toDF("x", "n").createOrReplaceTempView("t3")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_word_gram_hashes(x, n) FROM t3").collect()
    }
    assert(e.getMessage.contains("INTEGER literal"))
  }

  test("vector kernels: cosine of quantized q8 stays within tolerance") {
    import spark.implicits._
    Seq((Array(1.0f, 2.0f, 3.0f), Array(2.0f, 4.0f, 6.0f)))
      .toDF("a", "b").createOrReplaceTempView("t4")
    val r = spark.sql("""
      SELECT graft_cosine(a, b) AS c,
             graft_cosine_q8(graft_quantize_q8(a), graft_quantize_q8(b)) AS cq
      FROM t4""").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-6)
    assert(math.abs(r.getDouble(1) - 1.0) < 0.02)
  }
}
