package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Windowed pair semantics (ordering, window cut, the sequence-
  * reversal footgun on short docs) and hand-computed lift. */
class CollocSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("window-2 pairs of a 4-token doc, unordered keys, lowercased") {
    val docs = Seq((1L, "B a c a")).toDF("doc_id", "text")
    val pc = Colloc.pairCounts(docs, col("text"), window = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // positions: b a c a; window 2 pairs: (b,a)(b,c)(a,c)(a,a)(c,a)
    assert(pc === Map(("a", "b") -> 1L, ("b", "c") -> 1L, ("a", "c") -> 2L,
      ("a", "a") -> 1L))
  }

  test("docs with <2 tokens and empty text contribute nothing") {
    val docs = Seq((1L, "solo"), (2L, ""), (3L, "   ")).toDF("doc_id", "text")
    assert(Colloc.pairCounts(docs, col("text"), window = 3).count() === 0L)
    assert(Colloc.unigramCounts(docs, col("text"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      === Map("solo" -> 1L))
  }

  test("lift matches the hand-computed ratio and ranks a collocation first") {
    // "new york" always adjacent; "the" everywhere dilutes its lifts
    val docs = Seq(
      (1L, "new york the city"), (2L, "new york the harbor"),
      (3L, "the city the harbor")).toDF("doc_id", "text")
    val top = Colloc.topCollocations(docs, col("text"), window = 1,
        minCount = 2, k = 3)
      .collect().map(r => (r.getString(1), r.getString(0), r.getLong(2),
        r.getDouble(3)))
    // window-1 pairs: (new,york)x2 (the,york)x2 (city,the)x2 (harbor,the)x2
    // + (city,the)(the,harbor) from doc3 → (city,the)x3? recount:
    // doc3 tokens: the city the harbor → (the,city)(city,the)(the,harbor)
    // so (city,the)=3, (harbor,the)=2, (new,york)=2, (the,york)=2
    val ntok = 12.0; val npair = 9.0
    // lift(new,york) = (2/2)*(12/2)*(12/9) = 8.0
    val ny = top.find(t => t._1 == "york" && t._2 == "new").get
    assert(ny._3 === 2L)
    assert(math.abs(ny._4 - (2.0 / 2.0) * (ntok / 2.0) * (ntok / npair)) < 1e-12)
    // (new,york) outranks every the-pair
    assert(top.head._2 === "new" && top.head._1 === "york")
  }
  test("plan: pair counting is one widen + one aggregation exchange") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val plan = Colloc.pairCounts(docs, col("text"), window = 3)
      .queryExecution.executedPlan.toString
    // round-robin widen below the interpreted pair projection, then
    // the count shuffle - and nothing else
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1, plan)
    assert("Exchange RoundRobinPartitioning".r.findAllIn(plan).length === 1,
      plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }
  test("count store: indexed == inline on the union; replays never double-add") {
    import spark.implicits._
    val base = Seq((1L, "a b c a b"), (2L, "b c d")).toDF("doc_id", "text")
    val inc = Seq((3L, "a b a b")).toDF("doc_id", "text")
    val dir = graft.TempDirs.create("colloc").toString
    Colloc.buildCountsStore(base, col("text"), window = 2, dir)
    Colloc.appendCountsBatch(inc, col("text"), window = 2, dir, batchId = 1L)
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val indexed = m(Colloc.readCounts(spark, dir))
    val inline = m(Colloc.pairCounts(base.unionAll(inc), col("text"),
      window = 2))
    assert(indexed === inline)
    // replaying the SAME batch overwrites - totals unchanged
    Colloc.appendCountsBatch(inc, col("text"), window = 2, dir, batchId = 1L)
    assert(m(Colloc.readCounts(spark, dir)) === inline)
  }
}
