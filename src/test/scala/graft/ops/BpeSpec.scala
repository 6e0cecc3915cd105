package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The BPE trainer matched against an independent single-node
  * reference implementation (plain Scala, no Spark) on the real
  * sf0.001 corpus, plus planted fixtures for tie-breaking,
  * merged-symbol reuse, overlapping runs, non-BMP symbols and early
  * stop. */
class BpeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  // ---- reference BPE (independent of the engine code) ----

  /** A word's seed symbols: one per code point, as Spark's
    * `split(word, "")` gives them. */
  private def refSymbols(w: String): Vector[String] =
    w.codePoints.toArray.map(cp => new String(Character.toChars(cp))).toVector

  /** Strings in Spark's order: by code point (UTF-8 bytes), where
    * `String.compareTo` orders by UTF-16 unit. */
  private val codePointOrder: Ordering[String] =
    Ordering.by((s: String) => s.codePoints.toArray.toSeq)(
      Ordering.Implicits.seqOrdering[Seq, Int])

  private def refWords(texts: Seq[String]): Map[Vector[String], Long] =
    texts.flatMap(_.trim.toLowerCase.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, g) => refSymbols(w) -> g.size.toLong }

  private def refMergeOnce(syms: Vector[String], a: String,
      b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  private def refTrain(texts: Seq[String],
      k: Int): (Seq[(Int, String, String, Long)], Map[Vector[String], Long]) = {
    var words = refWords(texts)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var stop = false
    while (r <= k && !stop) {
      val pc = mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i + 1 < syms.length) {
          pc((syms(i), syms(i + 1))) = pc.getOrElse((syms(i), syms(i + 1)), 0L) + c
          i += 1
        }
      }
      if (pc.isEmpty) stop = true
      else {
        val ((a, b), f) = pc.minBy { case ((a, b), f) => (-f, a, b) }(
          Ordering.Tuple3(Ordering.Long, codePointOrder, codePointOrder))
        merges += ((r, a, b, f))
        words = words.toSeq
          .map { case (s, c) => refMergeOnce(s, a, b) -> c }
          .groupBy(_._1).map { case (s, g) => s -> g.map(_._2).sum }
        r += 1
      }
    }
    (merges.result(), words)
  }

  private def refTokenCount(text: String,
      merges: Seq[(String, String)]): Long =
    text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).map { w =>
      merges.foldLeft(refSymbols(w)) { case (s, (a, b)) =>
        refMergeOnce(s, a, b)
      }.length.toLong
    }.sum

  // ---- tests ----

  test("train on the real corpus equals the single-node reference, 8 merges") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val texts = docs.select("text").as[String].collect().toSeq
    val engine = Bpe.train(docs, col("text"), numMerges = 8)
      .map(m => (m.rank, m.a, m.b, m.freq))
    val (ref, _) = refTrain(texts, 8)
    assert(engine === ref)
  }

  test("applied tokenizer counts equal the reference per document") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect()
    val merges = Bpe.train(docs, col("text"), numMerges = 8)
      .map(m => (m.a, m.b))
    val engine = docs.select(col("doc_id"),
        Bpe.tokenCount(col("text"), merges).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    texts.foreach { case (id, t) =>
      assert(engine(id) === refTokenCount(t, merges), s"doc $id")
    }
  }

  test("frequency ties break to the lexicographically smallest pair") {
    val docs = Seq((1L, "cd cd ab ab")).toDF("doc_id", "text")
    val m = Bpe.train(docs, col("text"), numMerges = 2)
    assert(m.map(x => (x.a, x.b)) === Seq(("a", "b"), ("c", "d")))
    assert(m.map(_.freq) === Seq(2L, 2L))
  }

  test("merged symbols participate in later merges") {
    val docs = Seq((1L, "abc abc abc ab")).toDF("doc_id", "text")
    val m = Bpe.train(docs, col("text"), numMerges = 2)
    // (a,b) wins at 4, then ("ab","c") at 3
    assert(m.map(x => (x.a, x.b, x.freq)) ===
      Seq(("a", "b", 4L), ("ab", "c", 3L)))
  }

  test("early stop when no adjacent pairs remain") {
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    assert(Bpe.train(docs, col("text"), numMerges = 5).isEmpty)
  }

  private def sf0001Docs() =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("train runs to the early stop like the reference on the real corpus") {
    // enough merges to reduce every word to one symbol: the driver
    // learner's incremental pair counts are checked over every round
    val docs = sf0001Docs()
    val texts = docs.select("text").as[String].collect().toSeq
    val engine = Bpe.train(docs, col("text"), numMerges = 10000)
      .map(m => (m.rank, m.a, m.b, m.freq))
    val (ref, words) = refTrain(texts, 10000)
    assert(engine.size < 10000 && words.keys.forall(_.length == 1))
    assert(engine === ref)
  }

  test("overlapping runs merge greedily left to right, as the reference does") {
    val text = "aaaa aaa banana abab"
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val engine = Bpe.train(docs, col("text"), numMerges = 20)
      .map(m => (m.rank, m.a, m.b, m.freq))
    // (a,a) counts every overlapping occurrence, but merges 2 + 1
    assert(engine.head === ((1, "a", "a", 5L)))
    assert(engine === refTrain(Seq(text), 20)._1)
  }

  test("frequency ties order symbols by code point, as Spark sorts strings") {
    // U+FF61 sorts before U+1F600 by code point (and by UTF-8 bytes),
    // but after it by UTF-16 unit (0xFF61 > the surrogate 0xD83D)
    val text = "\uFF61a \uFF61a \uD83D\uDE00a \uD83D\uDE00a"
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val m = Bpe.train(docs, col("text"), numMerges = 3)
      .map(m => (m.rank, m.a, m.b, m.freq))
    // the merges a per-merge Spark argmax (orderBy freq desc, a, b) learns
    assert(m === Seq((1, "\uFF61", "a", 2L), (2, "\uD83D\uDE00", "a", 2L)))
    assert(m === refTrain(Seq(text), 3)._1)
  }

  test("bpe_count splits words by code point, as the trainer's seed does") {
    val text = "x\uD83D\uDE00y x\uD83D\uDE00y \uD83D\uDE00"
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val seed = docs.select(Bpe.tokenCount(col("text"), Nil)).as[Long].head()
    assert(seed === 7L)
    val merges = Bpe.train(docs, col("text"), numMerges = 1).map(m => (m.a, m.b))
    assert(merges === Seq(("x", "\uD83D\uDE00")))
    val n = docs.select(Bpe.tokenCount(col("text"), merges)).as[Long].head()
    assert(n === refTokenCount(text, merges) && n === 5L)
  }

  test("a fit runs the same number of Spark jobs whatever its merge count") {
    val docs = sf0001Docs()
    val listener = new graft.Harness.RunListener(spark)
    try {
      def jobs(numMerges: Int): Int = {
        listener.drain()
        Bpe.train(docs, col("text"), numMerges)
        listener.drain()._1.size
      }
      val two = jobs(2)
      assert(two > 0 && jobs(12) === two)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("trainBatched with maxBatch=1 IS strict BPE (corpus equality)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val strict = Bpe.train(docs, col("text"), numMerges = 6)
      .map(m => (m.rank, m.a, m.b, m.freq))
    val batched = Bpe.trainBatched(docs, col("text"), numMerges = 6,
        maxBatch = 1)
      .map(m => (m.rank, m.a, m.b, m.freq))
    assert(batched === strict)
  }

  test("one batched round applies symbol-disjoint merges like sequential") {
    // four independent top pairs with distinct freqs; no shared
    // symbols, no concatenation collisions → one round must accept
    // all four with the same ranks and freqs strict BPE assigns
    val docs = Seq((1L,
      "ab ab ab ab ab cd cd cd cd ef ef ef gh gh")).toDF("doc_id", "text")
    val strict = Bpe.train(docs, col("text"), numMerges = 4)
      .map(m => (m.rank, m.a, m.b, m.freq))
    val batched = Bpe.trainBatched(docs, col("text"), numMerges = 4,
        maxBatch = 8)
      .map(m => (m.rank, m.a, m.b, m.freq))
    assert(batched === strict)
    assert(strict === Seq((1, "a", "b", 5L), (2, "c", "d", 4L),
      (3, "e", "f", 3L), (4, "g", "h", 2L)))
  }

  test("batched round defers dependent pairs to the next round") {
    // (a,b) dominates; ("ab","c") only exists after it — a batch must
    // not accept (b,c) or chain within the round, and the final merge
    // list still reaches ("ab","c") one round later
    val docs = Seq((1L, "abc abc abc ab")).toDF("doc_id", "text")
    val batched = Bpe.trainBatched(docs, col("text"), numMerges = 2,
        maxBatch = 8)
    assert(batched.map(x => (x.a, x.b, x.freq)) ===
      Seq(("a", "b", 4L), ("ab", "c", 3L)))
  }

  test("merge store round-trips: store-fit tokenization == inline-fit") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val path = graft.TempDirs.create("bpestore").toString
    val fitted = Bpe.fitToStore(docs, col("text"), numMerges = 5, path)
    val loaded = Bpe.mergesFromStore(spark, path)
    assert(loaded === fitted, "stored merge table must round-trip exactly")
    val inline = docs.select(col("doc_id"),
        Bpe.tokenCount(col("text"), fitted.map(m => (m.a, m.b))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val stored = docs.select(col("doc_id"),
        Bpe.tokenCountAgainstStore(spark, path, col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stored === inline)
    // a torn store (meta disagreeing with the table) fails loudly
    Seq(99L).toDF("n_merges").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
    val e = intercept[IllegalArgumentException] {
      Bpe.mergesFromStore(spark, path)
    }
    assert(e.getMessage.contains("torn"))
  }

  test("mergeBatch on one pair equals mergeOnce") {
    val df = Seq((Seq("a", "b", "c", "a", "b"), 1L)).toDF("syms", "wcount")
    val one = df.select(Bpe.mergeOnce(col("syms"), "a", "b").as("s"))
      .as[Seq[String]].head()
    val batch = df.select(Bpe.mergeBatch(col("syms"), Seq(("a", "b"))).as("s"))
      .as[Seq[String]].head()
    assert(one === batch && batch === Seq("ab", "c", "ab"))
  }

  test("mergeFold kernel equals the interpreted aggregate fold on adversarial sequences") {
    // the reference fold the kernel replaced (r17): accumulator-tail
    // probe with null-propagating equality, greedy left-to-right,
    // fresh products never re-merge within the pass
    def foldRef(syms: org.apache.spark.sql.Column, a: String,
        b: String): org.apache.spark.sql.Column =
      aggregate(syms, array().cast("array<string>"),
        (acc, s) => when(get(acc, size(acc) - 1) === lit(a) && s === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(s))))
    val fixtures = Seq(
      Seq("a", "a", "a", "a"),          // overlapping runs: greedy non-overlap
      Seq("a", "b", "a", "b", "a"),     // alternating
      Seq("b", "a", "b"),               // rule never fires at head
      Seq("a"), Seq.empty[String],      // short/empty
      Seq("ab", "a", "b", "ab"),        // product symbol already present
      Seq("x", "y", "z"))               // no match at all
    for (f <- fixtures; (a, b) <- Seq(("a", "a"), ("a", "b"), ("ab", "a"))) {
      val df = Seq(Tuple1(f)).toDF("syms")
      val ref = df.select(foldRef(col("syms"), a, b).as("s"))
        .as[Seq[String]].head()
      val kern = df.select(Bpe.mergeOnce(col("syms"), a, b).as("s"))
        .as[Seq[String]].head()
      assert(kern === ref, s"fixture $f rule ($a,$b)")
    }
    // multi-rule batch: kernel vs sequential reference application of
    // symbol-disjoint rules (the trainBatched acceptance invariant)
    val rules = Seq(("a", "b"), ("c", "d"))
    val f = Seq("a", "b", "c", "d", "a", "c", "b", "d", "a", "b")
    val df = Seq(Tuple1(f)).toDF("syms")
    val seqRef = df.select(
        foldRef(foldRef(col("syms"), "a", "b"), "c", "d").as("s"))
      .as[Seq[String]].head()
    val kern = df.select(Bpe.mergeBatch(col("syms"), rules).as("s"))
      .as[Seq[String]].head()
    assert(kern === seqRef)
  }

  test("odd-length rule lists fail where the kernel call is built, naming the function") {
    val odd = Array("a", "b", "c")
    val fold = intercept[IllegalArgumentException] {
      graft.functions.GraftFunctions.mergeFold(col("syms"), odd)
    }
    assert(fold.getMessage.contains("merge_fold") && fold.getMessage.contains("odd length 3"))
    val count = intercept[IllegalArgumentException] {
      graft.functions.GraftFunctions.bpeCount(col("text"), odd)
    }
    assert(count.getMessage.contains("bpe_count") && count.getMessage.contains("odd length 3"))
  }

  test("rule lists holding a null symbol fail where the kernel call is built, naming the function") {
    val withNull = Array("a", "b", null, "d")
    val fold = intercept[IllegalArgumentException] {
      graft.functions.GraftFunctions.mergeFold(col("syms"), withNull)
    }
    assert(fold.getMessage.contains("merge_fold") && fold.getMessage.contains("index 2"))
    val count = intercept[IllegalArgumentException] {
      graft.functions.GraftFunctions.bpeCount(col("text"), withNull)
    }
    assert(count.getMessage.contains("bpe_count") && count.getMessage.contains("index 2"))
  }
}
