package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PassJoin funnel contracts: exactness against brute-force
  * levenshtein (substitutions AND length-changing edits), the skew
  * cap's documented recall trade, and a cartesian-free plan. */
class EditDistanceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def brute(rows: Seq[(Long, String)], d: Int) = {
    def lev(a: String, b: String): Int = {
      val m = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
          m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      m(a.length)(b.length)
    }
    (for {
      (ia, sa) <- rows; (ib, sb) <- rows
      if ia < ib
      dist = lev(sa, sb)
      if dist <= d
    } yield (ia, ib, dist.toLong)).toSet
  }

  test("funnel equals brute force, including insert/delete pairs") {
    import spark.implicits._
    // edits in every region: head, middle, tail; plus insertions and
    // deletions that SHIFT all downstream segment positions
    val rows: Seq[(Long, String)] = Seq(
      1L -> "wildcat mountain trail", 2L -> "wildcat mountain trial",
      3L -> "wildcat mountian trail", 4L -> "mildcat mountain trail",
      5L -> "wildcat mountain trails", 6L -> "wildcat mountin trail",
      7L -> "wildcat mountain", 8L -> "completely different text",
      9L -> "wldcat mountain trail", 10L -> "awildcat mountain trail",
      11L -> "xyz", 12L -> "xyw", 13L -> "zzzzz")
    val got = EditDistance.editPairs(rows.toDF("id", "s"), $"s", $"id",
      maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === brute(rows, 2))
  }

  test("funnel equals brute force on a generated corpus with planted neighbors") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val alphabet = "abcdefgh"
    val seeds = (0 until 40).map(i =>
      (0 until 12 + i % 5).map(_ => alphabet(rng.nextInt(8))).mkString)
    val rows: Seq[(Long, String)] = seeds.zipWithIndex.flatMap { case (s, i) =>
      val mutated = {
        val p = rng.nextInt(s.length)
        rng.nextInt(3) match {
          case 0 => s.updated(p, alphabet(rng.nextInt(8)))      // sub
          case 1 => s.take(p) + alphabet(rng.nextInt(8)) + s.drop(p) // ins
          case 2 => s.take(p) + s.drop(p + 1)                   // del
        }
      }
      Seq((i * 2L, s), (i * 2L + 1, mutated))
    }
    val got = EditDistance.editPairs(rows.toDF("id", "s"), $"s", $"id",
      maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === brute(rows, 2))
  }

  test("indexed twin: new-vs-stored plus new-vs-new equals the inline funnel") {
    import spark.implicits._
    val rng = new scala.util.Random(29)
    val alphabet = "abcdefgh"
    val all: Seq[(Long, String)] = (0 until 60).map { i =>
      (i.toLong,
        (0 until 10 + i % 6).map(_ => alphabet(rng.nextInt(8))).mkString)
    } ++ Seq(100L -> "planted-string-one", 101L -> "planted-string-one!",
      102L -> "planted-string-0ne", 103L -> "planted-string")
    val old = all.filter(_._1 % 2 == 0)
    val nw = all.filter(_._1 % 2 == 1)
    val dir = graft.TempDirs.create("fuzzyidx").toString
    EditDistance.buildIndex(old.toDF("id", "s"), $"s", $"id", 2, dir)
    val got = EditDistance.editPairsAgainstIndex(spark, dir,
        nw.toDF("id", "s"), $"s", $"id", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val newIds = nw.map(_._1).toSet
    val expected = brute(all, 2)
      .filter(p => newIds.contains(p._1) || newIds.contains(p._2))
    assert(got === expected)
    // append the new batch twice (a replay): store stays duplicate-free
    EditDistance.appendToIndex(spark, dir, nw.toDF("id", "s"), $"s", $"id", 2)
    EditDistance.appendToIndex(spark, dir, nw.toDF("id", "s"), $"s", $"id", 2)
    assert(spark.read.parquet(s"$dir/strings").count() ===
      spark.read.parquet(s"$dir/strings").select("id").distinct().count())
    // and a later increment sees the appended strings
    val later = Seq(200L -> "planted-string-one?")
    val got2 = EditDistance.editPairsAgainstIndex(spark, dir,
        later.toDF("id", "s"), $"s", $"id", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected2 = brute(all ++ later, 2)
      .filter(p => p._1 == 200L || p._2 == 200L)
    assert(got2 === expected2)
  }

  test("plan: candidates come from an equality join, never a cartesian") {
    import spark.implicits._
    val rows = (1L to 30L).map(i => (i, s"prefix$i suffix")).toDF("id", "s")
    val plan = EditDistance.editPairs(rows, $"s", $"id", maxDist = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("bucket cap drops constant-prefix blocking keys, documented trade") {
    import spark.implicits._
    // every string shares segment 0; with a tiny cap those buckets are
    // dropped and only pairs that ALSO match on a varied segment remain
    val rows: Seq[(Long, String)] = Seq(
      1L -> "shared-prefix-aaaa", 2L -> "shared-prefix-aaab",
      3L -> "shared-prefix-bbbb", 4L -> "shared-prefix-bbbc")
    val uncapped = EditDistance.editPairs(rows.toDF("id", "s"), $"s", $"id", 2)
      .count()
    assert(uncapped === 2L) // (1,2) and (3,4)
    val capped = EditDistance.editPairs(rows.toDF("id", "s"), $"s", $"id", 2,
      bucketCap = 3)
      .count()
    assert(capped <= uncapped)
  }
}
