package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Naive-Bayes classifier contracts: it learns a separable vocabulary,
  * the persisted model round-trips, and the streaming append body is
  * replay-idempotent. */
class ClassifySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fixture = {
    import spark.implicits._
    // two vocabularies with some shared filler; labels follow the
    // vocabulary, so a correct fit must recover them on held-out docs
    (1 to 120).map { i =>
      val pos = i % 2 == 0
      val core = if (pos) s"apple banana cherry fruit$i" else s"rock iron slate stone$i"
      (i.toLong, s"the a of $core the", pos)
    }.toDF("doc_id", "text", "y")
  }

  test("fit + score recovers a separable label on held-out docs") {
    import spark.implicits._
    val docs = fixture
    val train = docs.filter($"doc_id" % 3 =!= 0)
    val test = docs.filter($"doc_id" % 3 === 0)
    val (w, m) = Classify.fitNaiveBayes(train, $"text", $"y")
    val scored = Classify.scoreNaiveBayes(test, $"text", $"doc_id", w, m)
      .join(test.select($"doc_id", $"y".cast("int").as("label")), Seq("doc_id"))
    val ev = Classify.evalBinary(scored, col("label")).head()
    assert(ev.getDouble(4) >= 0.95, s"accuracy ${ev.getDouble(4)}") // accuracy
    assert(ev.getDouble(7) >= 0.95, s"f1 ${ev.getDouble(7)}")       // f1
  }

  test("persisted model scores identically to the in-memory fit") {
    import spark.implicits._
    val docs = fixture
    val (w, m) = Classify.fitNaiveBayes(docs, $"text", $"y")
    val dir = graft.TempDirs.create("nbmodel").toString
    Classify.saveModel(w, m, dir)
    val direct = Classify.scoreNaiveBayes(docs, $"text", $"doc_id", w, m)
      .orderBy("doc_id").collect().toSeq
    val stored = Classify.scoreIndexed(spark, dir, docs, $"text", $"doc_id")
      .orderBy("doc_id").collect().toSeq
    assert(stored === direct)
  }

  test("multi-class fit + argmax recovers a 3-way separable label") {
    import spark.implicits._
    val docs = (1 to 150).map { i =>
      val cls = Seq("fruit", "rock", "fish")(i % 3)
      val core = cls match {
        case "fruit" => s"apple banana cherry f$i"
        case "rock" => s"granite slate basalt r$i"
        case _ => s"salmon trout herring h$i"
      }
      (i.toLong, s"the a of $core and", cls)
    }.toDF("doc_id", "text", "cls")
    val train = docs.filter($"doc_id" % 4 =!= 0)
    val test = docs.filter($"doc_id" % 4 === 0)
    val (w, m) = Classify.fitNaiveBayesMulti(train, $"text", $"cls")
    val scored = Classify.scoreNaiveBayesMulti(test, $"text", $"doc_id", w, m)
      .join(test.select($"doc_id", $"cls"), Seq("doc_id"))
    val acc = scored.filter($"pred" === $"cls").count().toDouble /
      scored.count()
    assert(acc >= 0.95, s"accuracy $acc")
  }

  test("charGrams: lowercased overlapping n-grams; short text yields none") {
    import spark.implicits._
    val got = Seq("AbCd", "ab", " xy ", "日本語テスト")
      .toDF("t").select(Classify.charGrams($"t", 3).as("g"))
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    assert(got === Seq(
      Seq("abc", "bcd"),
      Seq.empty,           // shorter than n
      Seq.empty,           // trims to 2 chars
      Seq("日本語", "本語テ", "語テス", "テスト"))) // char-, not byte-grams
  }

  test("charGrams kernel ≡ the Column reference formulation") {
    import spark.implicits._
    // surrogate pairs (emoji) force the code-POINT walk; mixed-width
    // text exercises the sliding-offset arithmetic
    val texts = Seq("AbCd", "ab", "", " spaced out ", "日本語テスト",
      "mixed 日本 ascii", "étude", "a😀b😀c", "😀😀😀😀")
    for (n <- Seq(2, 3, 5)) {
      val kernel = texts.toDF("t")
        .select(Classify.charGrams($"t", n).as("g"))
        .collect().map(_.getSeq[String](0).toSeq).toSeq
      val ref = texts.toDF("t")
        .select(Classify.charGramsCols($"t", n).as("g"))
        .collect().map(_.getSeq[String](0).toSeq).toSeq
      assert(kernel === ref, s"n=$n")
    }
  }

  test("char-3-gram NB separates languages by orthography alone") {
    import spark.implicits._
    val docs = (1 to 120).map { i =>
      val (lang, phrase) = (i % 3) match {
        case 0 => ("de", "der schnelle fuchs springt über den zaun und die straße")
        case 1 => ("fr", "le renard rapide saute par dessus la cloture et la rue")
        case _ => ("en", "the quick fox jumps over the fence and the street")
      }
      (i.toLong, s"shared filler tokens $phrase shared filler", lang)
    }.toDF("doc_id", "text", "lang")
    val grams = (t: org.apache.spark.sql.Column) => Classify.charGrams(t, 3)
    val (w, m) = Classify.fitNaiveBayesMulti(
      docs.filter($"doc_id" % 4 =!= 0), $"text", $"lang", tok = grams)
    val scored = Classify.scoreNaiveBayesMulti(
      docs.filter($"doc_id" % 4 === 0), $"text", $"doc_id", w, m, tok = grams)
      .join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
    val acc = scored.filter($"pred" === $"lang").count().toDouble /
      scored.count()
    assert(acc === 1.0, s"accuracy $acc")
  }

  test("plan: scoring is one (doc,token) aggregation + a broadcast model join") {
    import spark.implicits._
    val docs = fixture
    val (w, m) = Classify.fitNaiveBayes(docs, $"text", $"y")
    val wMat = w.localCheckpoint(true)
    val mMat = m.localCheckpoint(true)
    val plan = Classify.scoreNaiveBayes(docs, $"text", $"doc_id", wMat, mMat)
      .queryExecution.executedPlan.toString
    // the model sides broadcast; the only hash shuffles are the
    // (doc_id, token) count and the per-doc score aggregation
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("append body is replay-idempotent on the sink") {
    import spark.implicits._
    val docs = fixture
    val (w, m) = Classify.fitNaiveBayes(docs, $"text", $"y")
    val model = graft.TempDirs.create("nbmodel2").toString
    Classify.saveModel(w, m, model)
    val out = graft.TempDirs.create("nbout").toString + "/scored"
    val batch = docs.limit(40)
    Classify.appendScoredAgainst(spark, model, out, batch, $"text", $"doc_id")
    Classify.appendScoredAgainst(spark, model, out, batch, $"text", $"doc_id")
    assert(spark.read.parquet(out).count() === 40L)
  }
}
