package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BM25 arithmetic against a hand-computed fixture, indexed/inline
  * parity, top-k cut determinism, and the plan promises (broadcast df,
  * pushed term filter, TakeOrderedAndProject — no global sort). */
class SearchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import java.lang.Math.log

  // corpus: dl = 3, 4, 2; avgdl = 3; n = 3
  private val corpus = Seq(
    (1L, "cat dog cat"),
    (2L, "dog fish bird fish"),
    (3L, "cat cat"))

  private def bm25(t: Double, dfv: Double, dl: Double,
      n: Double = 3.0, avgdl: Double = 3.0): Double = {
    val idf = log((n - dfv + 0.5) / (dfv + 0.5) + 1)
    idf * t * 2.2 / (t + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
  }

  test("hand-computed scores: tf saturation, idf, length normalization") {
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text")
    val got = Search.bm25TopK(docs, col("text"), col("doc_id"),
        query = "cat fish", k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // cat: df 2; fish: df 1 (only doc 2)
    assert(got(1L) === r6(bm25(2, 2, 3)))            // cat tf=2
    assert(got(2L) === r6(bm25(2, 1, 4)))            // fish tf=2, rare term
    assert(got(3L) === r6(bm25(2, 2, 2)))            // cat tf=2, shorter doc
    // shorter doc outranks longer at equal tf/df; rare term outranks both
    assert(got(3L) > got(1L) && got(2L) > got(3L))
  }

  test("docs without any query term are absent; k cuts by score then id") {
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text")
    val top1 = Search.bm25TopK(docs, col("text"), col("doc_id"),
      query = "cat", k = 1).collect().map(_.getLong(0)).toSeq
    assert(top1 === Seq(3L)) // highest score (shortest doc) only
    val birds = Search.bm25TopK(docs, col("text"), col("doc_id"),
      query = "bird", k = 10).collect().map(_.getLong(0)).toSeq
    assert(birds === Seq(2L)) // docs 1 and 3 have no 'bird'
  }

  test("indexed path returns the same rows as the inline path") {
    import spark.implicits._
    val docs = (0L until 200L)
      .map(i => (i, s"alpha beta w$i gamma " + ("alpha " * (i % 5).toInt)))
      .toDF("doc_id", "text")
    val dir = graft.TempDirs.create("bm25").toString
    Search.buildIndex(docs, col("text"), col("doc_id"), s"$dir/idx")
    val inline = Search.bm25TopK(docs, col("text"), col("doc_id"),
      "alpha gamma w7", 25).collect().toSeq
    val indexed = Search.bm25TopKIndexed(spark, s"$dir/idx",
      "alpha gamma w7", 25).collect().toSeq
    assert(inline === indexed)
  }

  test("tfidf keywords: rarity beats frequency, rank cut per doc") {
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text")
    val got = Search.tfidfKeywords(docs, col("text"), col("doc_id"), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(3)) -> r.getString(1)).toMap
    // doc2: fish 2ln3 > bird ln3 > dog ln1.5 — rare fish outranks
    assert(got((2L, 1L)) === "fish" && got((2L, 2L)) === "bird")
    assert(got((1L, 1L)) === "cat") // tf 2 × ln 1.5
    assert(got((3L, 1L)) === "cat")
    assert(got.keys.count(_._1 == 3L) === 1) // doc3 has only one term
  }

  test("append composes: half-build + append equals a full build") {
    import spark.implicits._
    val all = (0L until 120L)
      .map(i => (i, s"alpha beta w$i gamma " + ("alpha " * (i % 4).toInt)))
      .toDF("doc_id", "text")
    val dir = graft.TempDirs.create("bm25app").toString
    Search.buildIndex(all.filter(col("doc_id") < 60), col("text"),
      col("doc_id"), s"$dir/idx")
    Search.appendToIndex(spark, s"$dir/idx",
      all.filter(col("doc_id") >= 60), col("text"), col("doc_id"))
    val full = graft.TempDirs.create("bm25full").toString
    Search.buildIndex(all, col("text"), col("doc_id"), s"$full/idx")
    val q = "alpha gamma w77"
    val appended = Search.bm25TopKIndexed(spark, s"$dir/idx", q, 30)
      .collect().toSeq
    val rebuilt = Search.bm25TopKIndexed(spark, s"$full/idx", q, 30)
      .collect().toSeq
    assert(appended === rebuilt)
  }

  test("plan: term filter pushed to the postings scan; top-k not a global sort") {
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text")
    val dir = graft.TempDirs.create("bm25plan").toString
    Search.buildIndex(docs, col("text"), col("doc_id"), s"$dir/idx")
    val plan = Search.bm25TopKIndexed(spark, s"$dir/idx", "cat fish", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("PushedFilters: [In(term"), plan)
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }
}
