package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contamination arithmetic on constructed corpora, the zero-match /
  * full-match edges, indexed-path parity, and the no-cartesian plan
  * promise. */
class DecontaminateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def score(train: Seq[(Long, String)], test: Seq[(Long, String)],
      n: Int): Map[Long, (Long, Long, Double)] = {
    import spark.implicits._
    Decontaminate.contamination(
        train.toDF("doc_id", "text"), test.toDF("doc_id", "text"),
        col("text"), col("doc_id"), n)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
  }

  test("exact fractions: full leak, partial leak, clean doc") {
    val train = Seq(1L -> "a b c d e", 2L -> "x y z w")
    // 2-grams of train: {a b, b c, c d, d e} ∪ {x y, y z, z w}
    val test = Seq(
      10L -> "a b c d e",     // all 4 grams leak → 1.0
      11L -> "a b q x y",     // grams {a b, b q, q x, x y}: 2/4 leak
      12L -> "p q r s")       // no gram leaks → 0.0
    val got = score(train, test, n = 2)
    assert(got(10L) === ((4L, 4L, 1.0)))
    assert(got(11L) === ((4L, 2L, 0.5)))
    assert(got(12L) === ((3L, 0L, 0.0)))
  }

  test("distinct-gram semantics: repeated grams count once") {
    // test doc repeats the leaked gram: distinct grams = {a b, b a},
    // train has only "a b" → 1/2, not 2/3 of the multiset
    val got = score(Seq(1L -> "a b"), Seq(10L -> "a b a b"), n = 2)
    assert(got(10L) === ((2L, 1L, 0.5)))
  }

  test("short-text fallback: text shorter than n is one whole-text gram") {
    val got = score(Seq(1L -> "hello world"), Seq(10L -> "hello world",
      11L -> "bye"), n = 5)
    assert(got(10L) === ((1L, 1L, 1.0))) // whole-text gram matches train's
    assert(got(11L) === ((1L, 0L, 0.0)))
  }

  test("indexed path returns the same rows as the inline path") {
    import spark.implicits._
    val train = (0L until 50L).map(i => i -> s"alpha beta gamma $i delta")
      .toDF("doc_id", "text")
    val test = (100L until 120L).map(i => i -> s"alpha beta gamma ${i - 100} x")
      .toDF("doc_id", "text")
    val dir = graft.TempDirs.create("decon").toString
    Decontaminate.buildTrainIndex(train, col("text"), 3, s"$dir/grams")
    val inline = Decontaminate.contamination(train, test, col("text"),
      col("doc_id"), 3).orderBy("test_id").collect().toSeq
    val indexed = Decontaminate.contaminationIndexed(spark, s"$dir/grams",
      test, col("text"), col("doc_id"), 3).orderBy("test_id").collect().toSeq
    assert(inline === indexed)
  }

  test("index append: anti-joined, so overlapping grams never double-count") {
    import spark.implicits._
    // halves share most grams — precisely the double-count trap
    val all = (0L until 60L).map(i => i -> s"alpha beta gamma ${i % 7} tail")
      .toDF("doc_id", "text")
    val test = Seq(100L -> "alpha beta gamma 3 tail").toDF("doc_id", "text")
    val dir = graft.TempDirs.create("deconapp").toString
    Decontaminate.buildTrainIndex(all.filter(col("doc_id") < 30),
      col("text"), 3, s"$dir/g")
    Decontaminate.appendToTrainIndex(spark, s"$dir/g",
      all.filter(col("doc_id") >= 30), col("text"), 3)
    val full = graft.TempDirs.create("deconfull").toString
    Decontaminate.buildTrainIndex(all, col("text"), 3, s"$full/g")
    // store stays a set …
    assert(spark.read.parquet(s"$dir/g").count() ===
      spark.read.parquet(s"$full/g").count())
    // … and scores are identical to a full rebuild (1.0 here — every
    // gram of the test doc is in train; a doubled gram would give > 1)
    val a = Decontaminate.contaminationIndexed(spark, s"$dir/g", test,
      col("text"), col("doc_id"), 3).collect().toSeq
    val b = Decontaminate.contaminationIndexed(spark, s"$full/g", test,
      col("text"), col("doc_id"), 3).collect().toSeq
    assert(a === b)
    assert(a.head.getDouble(3) === 1.0)
  }

  test("contaminated() filters at the threshold inclusively") {
    import spark.implicits._
    val train = Seq(1L -> "a b c").toDF("doc_id", "text")
    val test = Seq(10L -> "a b z", 11L -> "z z z").toDF("doc_id", "text")
    val ids = Decontaminate.contaminated(train, test, col("text"),
        col("doc_id"), n = 2, threshold = 0.5)
      .select("test_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(10L)) // 10: {a b, b z} → 0.5 kept; 11: 0.0 dropped
  }

  test("fused wordGramHashes == xxhash64 over the unfused shingle columns") {
    import spark.implicits._
    val texts = Seq("a b c d", "  leading and trailing  ", "one",
      "tab\tsep\ttokens", "multi   space", "a\nnewline b", "Ünïcode graMS ok",
      "a b a b a b", "trailing tab\t", "")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for (n <- Seq(1, 2, 3, 5)) {
      val fused = df.select(col("doc_id"), explode(
          graft.functions.GraftFunctions.wordGramHashes(col("text"), n)).as("h"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val unfused = df.select(col("doc_id"), explode(
          array_distinct(Dedup.shingles(col("text"), n))).as("g"))
        .select(col("doc_id"), xxhash64(col("g")).as("h"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fused === unfused, s"n=$n")
    }
  }

  test("property: kernel parity holds on random whitespace-heavy texts") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // texts biased toward the nasty region: runs of mixed whitespace,
    // empty tokens, unicode, repetitions
    val token = Gen.oneOf(Gen.alphaNumStr.map(_.take(6)), Gen.const("ü¶"),
      Gen.const("a"), Gen.const(""))
    val sep = Gen.oneOf(" ", "  ", "\t", "\n", " \t ")
    val textGen = for {
      n <- Gen.choose(0, 12)
      ts <- Gen.listOfN(n, token)
      ss <- Gen.listOfN(n + 1, sep)
    } yield ss.zip(ts :+ "").map { case (s, t) => s + t }.mkString
    var seed = Seed(20260812L)
    val texts = (1 to 60).map { _ =>
      val t = textGen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      t
    }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for (n <- Seq(2, 4)) {
      val fused = df.select(col("doc_id"), explode(
          graft.functions.GraftFunctions.wordGramHashes(col("text"), n)).as("h"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val unfused = df.select(col("doc_id"), explode(
          array_distinct(Dedup.shingles(col("text"), n))).as("g"))
        .select(col("doc_id"), xxhash64(col("g")).as("h"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fused === unfused, s"n=$n texts=${texts.take(5)}")
    }
  }

  test("plan: key-equality joins only — no cartesian/nested-loop") {
    import spark.implicits._
    val train = Seq(1L -> "a b c").toDF("doc_id", "text")
    val test = Seq(10L -> "a b").toDF("doc_id", "text")
    val plan = Decontaminate.contamination(train, test, col("text"),
      col("doc_id"), 2).queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
  }

  test("suite variant equals per-set contamination; leaked set reads 1.0; indexed twin identical") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "one two three four five")).toDF("doc_id", "text")
    val evalA = Seq(
      (10L, "alpha beta gamma nine"), // 1 of 2 grams leak (n=3)
      (11L, "clean fresh words here")).toDF("doc_id", "text")
    val evalB = Seq(
      (1L, "alpha beta gamma delta"), // a LEAKED benchmark: train member
      (12L, "six seven eight")).toDF("doc_id", "text")
    val evals = evalA.select(lit("a").as("s"), col("doc_id"), col("text"))
      .unionByName(evalB.select(lit("b").as("s"), col("doc_id"), col("text")))

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("eval_set", "test_id", "n_grams", "n_matched", "contamination")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap

    val suite = rows(Decontaminate.contaminationSuite(train, evals,
      col("text"), col("doc_id"), col("s"), n = 3))
    // per-set twins through the single-set operator
    val perSet = (rows(Decontaminate.contamination(train, evalA,
        col("text"), col("doc_id"), n = 3)
        .select(lit("a").as("eval_set"), col("test_id"), col("n_grams"),
          col("n_matched"), col("contamination"))) ++
      rows(Decontaminate.contamination(train, evalB,
        col("text"), col("doc_id"), n = 3)
        .select(lit("b").as("eval_set"), col("test_id"), col("n_grams"),
          col("n_matched"), col("contamination"))))
    assert(suite === perSet)
    assert(suite(("b", 1L))._3 === 1.0) // the leaked-benchmark signal
    assert(suite(("a", 11L))._3 === 0.0)

    // steady-state shape: persisted gram index, same rows
    val dir = graft.TempDirs.create("decon_suite").toString
    Decontaminate.buildTrainIndex(train, col("text"), 3, s"$dir/grams")
    val indexed = rows(Decontaminate.contaminationSuiteIndexed(spark,
      s"$dir/grams", evals, col("text"), col("doc_id"), col("s"), n = 3))
    assert(indexed === suite)
  }
}
