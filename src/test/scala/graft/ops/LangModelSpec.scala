package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed add-k bigram arithmetic plus the discrimination
  * property the perplexity filter exists for. */
class LangModelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  test("scoreBigram: add-k arithmetic matches a hand computation") {
    val docs = Seq((1L, "a b a b"), (2L, "a b b")).toDF("doc_id", "text")
    val got = LangModel.scoreBigram(docs, col("text"), col("doc_id"), k = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // bigrams: doc1 = (a,b)×2,(b,a); doc2 = (a,b),(b,b)
    // C2: (a,b)=3 (b,a)=1 (b,b)=1; C1(history): a=3, b=2; V=2, k=0.5
    // P(a,b) = 3.5/(3+1) = 0.875; P(b,a) = 1.5/(2+1) = 0.5; P(b,b) = 0.5
    val pab = -math.log(0.875); val pba = -math.log(0.5)
    val d1 = (2 * pab + pba) / 3
    val d2 = (pab + pba) / 2
    assert(got(1L)._1 === 3L)
    assert(got(2L)._1 === 2L)
    assert(math.abs(got(1L)._2 - d1) < 1e-6, got(1L))
    assert(math.abs(got(2L)._2 - d2) < 1e-6, got(2L))
  }

  test("stored stats: self-fit score equals scoreBigram; OOV smoothing exact") {
    val docs = Seq((1L, "a b a b"), (2L, "a b b")).toDF("doc_id", "text")
    val path = graft.TempDirs.create("lm_stats").toString
    LangModel.buildBigramStats(docs, col("text"), col("doc_id"), path)
    // fit == scored corpus → identical to the inline self-score
    val inline = LangModel.scoreBigram(docs, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val stored = LangModel.scoreBigramAgainst(spark, path, docs,
        col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stored === inline)
    // OOV: "a z" = seen history a (c1=3), unseen bigram (c2=0);
    // "q q" = unseen history entirely. V=2, k=0.5
    val oov = Seq((10L, "a z"), (11L, "q q")).toDF("doc_id", "text")
    val got = LangModel.scoreBigramAgainst(spark, path, oov,
        col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(got(10L) - (-math.log(0.5 / 4.0))) < 1e-6, got(10L))
    assert(math.abs(got(11L) - (-math.log(0.5 / 1.0))) < 1e-6, got(11L))
  }

  test("scoreTrigram: interpolated arithmetic matches an independent reference fold") {
    val texts = Map(1L -> "a b c a b c", 2L -> "a b c b", 3L -> "x y")
    val docs = texts.toSeq.toDF("doc_id", "text")
    val got = LangModel.scoreTrigram(docs, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(!got.contains(3L), "sub-3-token docs emit nothing")

    // independent reference computation over the same token streams
    val toks = texts.view.mapValues(_.split("\\s+").toSeq).toMap
    val allToks = toks.values.flatten.toSeq
    val (n, v) = (allToks.size.toDouble, allToks.distinct.size.toDouble)
    val c1 = allToks.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val bis = toks.values.flatMap(t => t.sliding(2).filter(_.size == 2).map(s => (s(0), s(1)))).toSeq
    val c2 = bis.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val c2h = bis.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val tris = toks.view.mapValues(t => t.sliding(3).filter(_.size == 3)
      .map(s => (s(0), s(1), s(2))).toSeq).toMap
    val allTris = tris.values.flatten.toSeq
    val c123 = allTris.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val c12 = allTris.groupBy(t => (t._1, t._2)).view.mapValues(_.size.toDouble).toMap
    def nll(docTris: Seq[(String, String, String)]): Double = {
      val terms = docTris.map { case tg @ (w1, w2, w3) =>
        val p = 0.6 * (c123(tg) / c12((w1, w2))) +
          0.3 * (c2((w2, w3)) / c2h(w2)) +
          0.1 * ((c1(w3) + 0.5) / (n + 0.5 * v))
        -math.log(p)
      }
      terms.sum / terms.size
    }
    Seq(1L, 2L).foreach { id =>
      assert(got(id)._1 === tris(id).size.toLong, s"doc $id trigram count")
      assert(math.abs(got(id)._2 - nll(tris(id))) < 1e-6, s"doc $id nll")
    }
  }

  test("stored trigram stats: self-fit equals scoreTrigram; store-miss terms degrade per slot") {
    val docs = Seq((1L, "a b c a b c"), (2L, "a b c b")).toDF("doc_id", "text")
    val path = graft.TempDirs.create("lm3_stats").toString
    LangModel.buildTrigramStats(docs, col("text"), col("doc_id"), path)
    val inline = LangModel.scoreTrigram(docs, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val stored = LangModel.scoreTrigramAgainst(spark, path, docs,
        col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stored === inline)
    // store-miss arithmetic, slot by slot (corpus: N=10 tokens, V=3,
    // c1: a=3,b=4,c=3):
    //  "a b x": trigram abx unseen (0), bigram bx unseen (0),
    //           unigram x unseen → p = 0.1*(0.5/11.5)
    //  "q q q": everything unseen → same floor p per trigram
    val oov = Seq((10L, "a b x"), (11L, "q q q")).toDF("doc_id", "text")
    val got = LangModel.scoreTrigramAgainst(spark, path, oov,
        col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val floor = 0.1 * (0.5 / (10 + 0.5 * 3))
    assert(math.abs(got(10L) - -math.log(floor)) < 1e-6, got(10L))
    assert(math.abs(got(11L) - -math.log(floor)) < 1e-6, got(11L))
    // a fully-seen trigram gets all three slots: c123(abc)=3 (doc1
    // twice + doc2 once), c12(ab)=3; bigram bc: c2=3, and c2h(b)=3
    // (every stored w1=b bigram is bc); c1(c)=3
    // → p = .6*(3/3) + .3*(3/3) + .1*(3.5/11.5)
    val seen = Seq((20L, "a b c")).toDF("doc_id", "text")
    val pSeen = 0.6 * 1.0 + 0.3 * 1.0 + 0.1 * (3.5 / 11.5)
    val gotSeen = LangModel.scoreTrigramAgainst(spark, path, seen,
        col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(gotSeen(20L) - -math.log(pSeen)) < 1e-6, gotSeen(20L))
  }

  test("scoreBigram: sub-2-token docs emit nothing; gibberish scores worse") {
    val normal = (0 until 50).map(i => (i.toLong, "the cat sat on the mat"))
    val weird = Seq((100L, "zq xv qqj zzk pf"), (101L, "one"), (102L, " "))
    val docs = (normal ++ weird).toDF("doc_id", "text")
    val got = LangModel.scoreBigram(docs, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(!got.contains(101L) && !got.contains(102L), "no bigrams, no row")
    val normalMax = normal.map(_._1).map(got).max
    assert(got(100L) > normalMax,
      s"corpus-atypical transitions must score above every normal doc: " +
        s"${got(100L)} vs $normalMax")
  }

  test("kneser-ney: hand arithmetic, store-fit == inline, continuation semantics") {
    // corpus: "a b" x3, "c b", "x y", "z y", "w y" — b is FREQUENT but
    // follows only {a, c}; y is rarer overall but follows 3 distinct
    // contexts, so its continuation mass is higher
    val docs = Seq((1L, "a b a b a b"), (2L, "c b"), (3L, "x y"),
      (4L, "z y"), (5L, "w y")).toDF("doc_id", "text")
    val path = graft.TempDirs.create("kn_stats").toString
    LangModel.buildKnBigramStats(docs, col("text"), col("doc_id"), path)
    val inline = LangModel.scoreKnBigram(docs, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val stored = LangModel.scoreKnBigramAgainst(spark, path, docs,
        col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stored === inline, "self-fit store score must equal inline")

    // hand check doc 2 ("c b"): bigram types a-b(3) b-a(2) c-b(1)
    // x-y(1) z-y(1) w-y(1) → T=6; V=7 (a b c x y z w). c(c·)=1,
    // N1+(c·)=1, N1+(·b)=2. pc(b) = (2+0.5)/(6+0.5*7) = 2.5/9.5;
    // P(b|c) = max(1−0.75,0)/1 + 0.75·(1/1)·(2.5/9.5)
    val got2 = inline.find(_._1 == 2L).get
    assert(got2._2 === 1L)
    val expect2 = 0.25 + 0.75 * (2.5 / 9.5)
    assert(math.abs(got2._3 - (-math.log(expect2))) < 1e-6, got2)

    // continuation semantics (the "francisco" property): after an
    // UNSEEN history, y (3 distinct contexts) must be cheaper than b
    // (2 contexts) even though b has more raw occurrences (4 vs 3)
    val probes = Seq((10L, "qq b"), (11L, "qq y")).toDF("doc_id", "text")
    val pg = LangModel.scoreKnBigramAgainst(spark, path, probes,
        col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(pg(11L) < pg(10L),
      s"many-context y must outscore frequent-but-predictable b: $pg")
    // unseen-history fallback is exactly Pcont: -ln((3+.5)/(6+.5*7))
    assert(math.abs(pg(11L) - (-math.log(3.5 / 9.5))) < 1e-6, pg(11L))
  }

  test("trigram kneser-ney: hand arithmetic, store-fit == inline, level-by-level backoff") {
    // corpus: doc1 "a b c a b c", doc2 "a b d", doc3 "x y" (no
    // trigram, but it DOES feed the bigram-type floor)
    //   trigram types: abc=2, bca=1, cab=1, abd=1
    //   c12(ab)=3 with 2 continuations; c12(bc)=c12(ca)=1 with 1
    //   middle stats: b → n1mid=2 (types b·c, b·d), n1out=2;
    //                 a, c → n1mid=n1out=1
    //   bigram types ab, bc, ca, bd, xy → T=5; V=6 (a b c d x y);
    //   every scored word has one distinct predecessor → n1cont=1,
    //   p1 = 1.5/(5 + 0.5·6) = 1.5/8
    val docs = Seq((1L, "a b c a b c"), (2L, "a b d"), (3L, "x y"))
      .toDF("doc_id", "text")
    val got = LangModel.scoreKnTrigram(docs, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(!got.contains(3L), "sub-3-token docs emit nothing")
    val p1 = 1.5 / 8.0
    // doc2's only trigram (a,b,d):
    //   p2(d|b) = max(1−.75,0)/2 + .75·(2/2)·p1 = 0.3125
    //   p3(d|ab) = max(1−.75,0)/3 + .75·(2/3)·p2
    val p2d = 0.25 / 2 + 0.75 * 1.0 * p1
    val p3d = 0.25 / 3 + 0.75 * 2.0 / 3 * p2d
    assert(got(2L)._1 === 1L)
    assert(math.abs(got(2L)._2 - (-math.log(p3d))) < 1e-6, got(2L))
    // doc1: abc (c=2), bca, cab
    val p3abc = 1.25 / 3 + 0.75 * 2.0 / 3 * p2d // p2(c|b) = p2(d|b) by symmetry
    val p2a = 0.25 / 1 + 0.75 * 1.0 * p1
    val p3bca = 0.25 / 1 + 0.75 * 1.0 * p2a
    val p3cab = p3bca // identical stats by symmetry
    val nll1 = (2 * -math.log(p3abc) - math.log(p3bca) - math.log(p3cab)) / 4
    assert(got(1L)._1 === 4L)
    assert(math.abs(got(1L)._2 - nll1) < 1e-6, got(1L))

    // store fit on the same corpus must equal the inline self-score
    val path = graft.TempDirs.create("kn3_stats").toString
    LangModel.buildKnTrigramStats(docs, col("text"), col("doc_id"), path)
    val stored = LangModel.scoreKnTrigramAgainst(spark, path, docs,
        col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inline = LangModel.scoreKnTrigram(docs, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stored === inline, "self-fit store score must equal inline")

    // level-by-level backoff on store misses:
    //   "q q q": nothing seen at any level → p = p1(q) = 0.5/8
    //   "a b x": history ab seen, trigram + (b,x) unseen, middle b
    //   seen; x is in the vocab but never a bigram SECOND word, so
    //   n1cont(x)=0 → p2 = .75·(2/2)·(0.5/8), p3 = .75·(2/3)·p2
    val probes = Seq((10L, "q q q"), (11L, "a b x")).toDF("doc_id", "text")
    val pg = LangModel.scoreKnTrigramAgainst(spark, path, probes,
        col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(pg(10L) - (-math.log(0.5 / 8.0))) < 1e-6, pg(10L))
    val pabx = 0.75 * 2.0 / 3 * (0.75 * (0.5 / 8.0))
    assert(math.abs(pg(11L) - (-math.log(pabx))) < 1e-6, pg(11L))

    // an empty reference corpus is refused (V = 0 → every score ±Inf)
    val emptyPath = graft.TempDirs.create("kn3_empty").toString
    LangModel.buildKnTrigramStats(
      docs.filter(col("doc_id") < 0), col("text"), col("doc_id"), emptyPath)
    val err = intercept[IllegalArgumentException] {
      LangModel.scoreKnTrigramAgainst(spark, emptyPath, docs,
        col("text"), col("doc_id"))
    }
    assert(err.getMessage.contains("empty corpus"))
  }
}
