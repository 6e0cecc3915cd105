package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Parity proof for the fused single-pass text_stats kernel
  * ([[graft.functions.GraftFunctions.textStatsCounts]]) against the original
  * six-regex-pass formulation: whitespace/trim/split-limit semantics,
  * Unicode, empty strings, and the real documents corpus. */
class TextStatsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def unfused(df: DataFrame): DataFrame = df.select(
    col("doc_id"),
    TextOps.tokenCount(col("text")).cast(LongType).as("n_tokens"),
    TextOps.bpeishTokenCount(col("text")).cast(LongType).as("n_bpeish"),
    round(TextOps.alphaRatio(col("text")), 6).as("alpha_ratio"),
    round(TextOps.stopwordRatio(col("text")), 6).as("stop_ratio"),
    round(TextOps.meanWordLen(col("text")), 6).as("mean_word_len"),
    TextOps.fingerprint(col("text")).as("fp"))

  def fused(df: DataFrame): DataFrame =
    df.select((col("doc_id") +: TextOps.statsColumns(col("text"))): _*)

  test("fused kernel == unfused regex formulation on edge cases") {
    import spark.implicits._
    val edge = Seq(
      "", " ", "  ", "\t", " \tleading tab", "trailing tab\t", "a",
      "The quick brown fox", "the and of to in", "a1b2 33 ..!?",
      "multi\n\nline\ttext  with   runs", "unicode é ü 中文 text 😀ok",
      "punct-only !!! ... ???", "  spaces  around  ",
      "MiXeD CaSe The THE tHe", "1234567890", "word",
      "is it that for on with as", "\t\ttabs only\t\t", "a  b   c")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = edge.toDF("doc_id", "text")
    val a = unfused(df).orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = fused(df).orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  def unfusedLQ(df: DataFrame): DataFrame = df.select(col("doc_id"),
    TextOps.langId(col("text")).as("pred_lang"),
    TextOps.qualityScore(col("text")).as("quality"))

  def fusedLQ(df: DataFrame): DataFrame = df.select(col("doc_id"),
    TextOps.langIdFused(col("text")).as("pred_lang"),
    TextOps.qualityScoreFused(col("text")).as("quality"))

  test("fused langId + qualityScore == unfused formulation") {
    import spark.implicits._
    val edge = Seq(
      "", " ", "the quick fox and the dog", "der hund und die katze ist mit von",
      "le chat et la maison des gens est avec", "el perro los gatos las casas es con por una",
      "的 是 在 了 和", "no markers here whatsoever", "the der le el mixed markers tie",
      "und und und der", "THE AND OF TO IS THAT WITH")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = edge.toDF("doc_id", "text")
    val a = unfusedLQ(df).orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = fusedLQ(df).orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("fused langId + qualityScore == unfused on the documents corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = unfusedLQ(docs).orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = fusedLQ(docs).orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a === b)
  }

  test("fused kernel == unfused on the documents corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = unfused(docs).orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = fused(docs).orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a === b)
  }

  test("pii: counts and in-place redaction, boundaries respected") {
    import spark.implicits._
    val rows = Seq(
      "mail a.b+c@x-y.co and d@e.io, ip 10.0.0.1, ssn 123-45-6789",
      "no pii here at all",
      "almost: 1234-45-6789 and 10.0.0 and not@tld")
    val got = rows.toDF("t")
      .select(TextOps.piiCounts(col("t")) :+
        TextOps.redactPii(col("t")).as("r"): _*)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    assert(got(0) === ((2L, 1L, 1L,
      "mail <EMAIL> and <EMAIL>, ip <IP>, ssn <SSN>")))
    assert(got(1) === ((0L, 0L, 0L, "no pii here at all")))
    // 1234-45-6789 fails \b[0-9]{3}; 10.0.0 has only two dots;
    // not@tld has no dot-suffix in the domain
    assert(got(2) === ((0L, 0L, 0L, "almost: 1234-45-6789 and 10.0.0 and not@tld")))
  }

  test("plan: chunkTokens is shuffle-free — one scan, one generate, no exchange") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val chunks = TextOps.chunkTokens(docs, col("text"), col("doc_id"),
      chunkTokens = 64, overlapTokens = 16)
    chunks.collect()
    val plan = chunks.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange"), plan)
    assert("Generate".r.findAllIn(plan).length === 1, plan)
    // column pruning reaches the scan: only the two needed columns
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), plan)
  }

  test("chunkTokens: tiling, overlap, and tail invariants") {
    import spark.implicits._
    // 10 tokens, chunk 4, overlap 1 (step 3): ceil((10-4)/3)+1 = 3
    // chunks at token starts 1, 4, 7 — the last one reaches token 10
    val doc = (1 to 10).map(i => s"w$i").mkString(" ")
    val fixtures = Seq(
      (1L, doc),               // multi-chunk
      (2L, "w1 w2 w3"),        // shorter than one chunk → 1 chunk
      (3L, "w1 w2 w3 w4"),     // exactly one chunk → 1 chunk
      (4L, ""))                // empty → 1 chunk of [""] (split contract)
    val got = TextOps.chunkTokens(fixtures.toDF("doc_id", "text"),
        col("text"), col("doc_id"), chunkTokens = 4, overlapTokens = 1)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1).toSeq).toMap
    assert(got(1L) === Seq((0L, 1L, 4L), (1L, 4L, 4L), (2L, 7L, 4L)))
    assert(got(2L) === Seq((0L, 1L, 3L)))
    assert(got(3L) === Seq((0L, 1L, 4L)))
    assert(got(4L) === Seq((0L, 1L, 1L))) // split("") = [""], as tokenCount
    // invariants on the real corpus: chunks cover every token exactly
    // (union of [start, start+n) == [1, n_tok]), consecutive chunks
    // overlap exactly `overlap` tokens except via the shifted tail
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val chunks = TextOps.chunkTokens(docs, col("text"), col("doc_id"),
      chunkTokens = 64, overlapTokens = 16).localCheckpoint(true)
    val bad = chunks
      .groupBy("doc_id")
      .agg(max(col("token_start") + col("n_tokens") - 1).as("covered"),
        min("token_start").as("first"),
        max(col("n_tokens")).as("maxlen"))
      .join(docs.select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("nt")), Seq("doc_id"))
      .filter(col("covered") =!= col("nt") || col("first") =!= 1L ||
        col("maxlen") > 64L)
      .count()
    assert(bad === 0L, "every token covered, starts at 1, chunk size bounded")
    // every non-final chunk is FULL (64 tokens): the tail rule only
    // shortens the last chunk's start, never emits a short middle chunk
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val shortMiddles = chunks
      .withColumn("__last", col("chunk_id") === max("chunk_id").over(w))
      .filter(!col("__last") && col("n_tokens") =!= 64L).count()
    assert(shortMiddles === 0L)
  }

  test("hashedTfIdf rows are unit-norm; dense vectors match the sparse form") {
    import spark.implicits._
    val docs = Seq((0L, "the cat sat on the mat"),
      (1L, "a dog and a dog"), (2L, "cat dog cat dog cat")).toDF("doc_id", "text")
    val sparse = TextOps.hashedTfIdf(docs, col("text"), col("doc_id"),
      buckets = 256)
    // L2 normalization: per-doc Σw² ≈ 1 (6dp rounding tolerance)
    val norms = sparse.groupBy("doc_id")
      .agg(sum(col("w") * col("w")).as("n2"))
      .collect().map(_.getDouble(1))
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-4))
    // the dense assembly carries exactly the sparse weights, zeros
    // elsewhere
    val dense = TextOps.hashedVectors(docs, col("text"), col("doc_id"),
        buckets = 256)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toMap
    val sp = sparse.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    sp.foreach { case ((id, pos), w) =>
      assert(math.abs(dense(id)(pos.toInt) - w) < 1e-6)
    }
    val nnz = sp.keys.groupBy(_._1).view.mapValues(_.map(_._2.toInt).toSet)
    dense.foreach { case (id, v) =>
      v.zipWithIndex.foreach { case (x, i) =>
        if (!nnz(id).contains(i)) assert(x === 0.0f)
      }
    }
  }

  test("sparseCosinePairs equals dense cosine; the posting cap drops hot buckets") {
    import spark.implicits._
    val docs = Seq((0L, "the cat sat on the mat"),
      (1L, "the cat sat on a hat"), (2L, "dogs bark loudly at night"),
      (3L, "the cat sat on the mat")).toDF("doc_id", "text")
    val sparse = TextOps.hashedTfIdf(docs, col("text"), col("doc_id"),
      buckets = 256)
    val pairs = Similarity.sparseCosinePairs(sparse, threshold = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // exact duplicates cosine to 1 under any weighting
    assert(math.abs(pairs((0L, 3L)) - 1.0) < 1e-3)
    // inverted-index pairs match the dense-kernel cosine (float cast
    // tolerance) for every materialized pair
    val dense = TextOps.hashedVectors(docs, col("text"), col("doc_id"),
        buckets = 256)
    val d2 = dense.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      .crossJoin(dense.select(col("vec_id").as("id_b"), col("embedding").as("vb")))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("va"), col("vb")).as("cos"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    pairs.foreach { case (k, c) => assert(math.abs(c - d2(k)) < 1e-3, s"$k") }
    // docs sharing no bucket never materialize (2 is disjoint from 0/3)
    assert(!pairs.contains((0L, 2L)) || pairs((0L, 2L)) == 0.0)
    // a cap of 1 drops every shared posting list → no pairs at all
    assert(Similarity.sparseCosinePairs(sparse, 0.0, dfCap = 1).count() === 0L)
    // proportional cap: dfFrac floors at 64 docs, so on this tiny
    // corpus it never binds — identical pairs to the absolute run
    val fracPairs = Similarity.sparseCosinePairs(sparse, threshold = 0.0,
      dfFrac = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(fracPairs === pairs)
  }
  test("compression ratio separates repetition from high-entropy text") {
    import spark.implicits._
    val boiler = ("lorem ipsum dolor sit amet " * 80).trim
    // full printable-range bytes (~6.5 bits/char) — hex strings are
    // NOT junk-entropy (16 symbols ≈ 4 bits/char deflates to ~0.56)
    val junk = (1 to 60).map(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"j$i".getBytes("UTF-8"))
        .map(b => (33 + math.floorMod(b, 94)).toChar).mkString)
      .mkString(" ")
    val normal = "The quick brown fox jumps over the lazy dog near the " +
      "river bank, while sparrows argue about crumbs and a barge drifts by."
    val docs = Seq((1L, boiler), (2L, junk), (3L, normal), (4L, ""))
      .toDF("doc_id", "text")
    val out = docs.select((col("doc_id") +:
        TextOps.compressionColumns(col("text"))): _*)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4)))).toMap
    // raw_len is the UTF-8 byte length
    assert(out(1L)._1 === boiler.getBytes("UTF-8").length.toLong)
    // 80x repetition deflates to a tiny fraction; entropy text doesn't
    assert(out(1L)._3 < 0.1 && out(1L)._4 === "boilerplate")
    assert(out(2L)._3 > 0.5, s"junk ratio ${out(2L)._3}")
    assert(out(3L)._4 === "ok")
    assert(out(4L)._4 === "empty" && out(4L)._1 === 0L)
    // ratio ordering is the signal: boiler < normal < junk
    assert(out(1L)._3 < out(3L)._3 && out(3L)._3 < out(2L)._3)
  }

  test("deflate_len is stable per JVM and registered in SQL") {
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    val df = Seq(("abc abc abc abc abc abc abc abc")).toDF("t")
    val a = df.select(graft.functions.GraftFunctions.deflateLen(col("t")))
      .collect()(0).getLong(0)
    val b = df.selectExpr("graft_deflate_len(t)").collect()(0).getLong(0)
    assert(a === b && a > 0)
    val again = df.select(graft.functions.GraftFunctions.deflateLen(col("t")))
      .collect()(0).getLong(0)
    assert(again === a)
  }
  test("htmlToText: scripts/styles/comments drop, tags space, entities last") {
    import spark.implicits._
    val html = "<html><script>if (a<b) { alert('x') }</script>" +
      "<style>h1 {}</style><body><h1>Title</h1><p>one</p><p>two</p>" +
      "<!-- hidden -->three &amp;lt; &lt;b&gt; &nbsp;&#39;q&#39;</body></html>"
    val out = Seq(html).toDF("h")
      .select(TextOps.htmlToText(col("h"))).collect()(0).getString(0)
    // </p><p> becomes a space (no word gluing); &amp;lt; decodes to
    // the LITERAL '&lt;' (amp last, no double decode); decoded <b>
    // survives as text because stripping ran first
    assert(out === "Title one two three &lt; <b> 'q'")
  }
  test("unicodeNormalize: NFC composes, NFKC folds, idempotent, SQL-registered") {
    import spark.implicits._
    import graft.functions.GraftFunctions.unicodeNormalize
    val decomposed = "cafe\u0301 bla\u030Aba\u0308r"
    val df = Seq(decomposed).toDF("t")
    val nfc = df.select(unicodeNormalize(col("t"), "NFC"))
      .collect()(0).getString(0)
    assert(nfc === "caf\u00e9 bl\u00e5b\u00e4r")
    assert(nfc.length === decomposed.length - 3)
    // NFKC folds compatibility chars NFC leaves alone
    val liga = Seq("\ufb01le \uff21wide").toDF("t")
    assert(liga.select(unicodeNormalize(col("t"), "NFC"))
      .collect()(0).getString(0) === "\ufb01le \uff21wide")
    assert(liga.select(unicodeNormalize(col("t"), "NFKC"))
      .collect()(0).getString(0) === "file Awide")
    // idempotence + the isNormalized fast path return the same value
    val twice = df.select(
      unicodeNormalize(unicodeNormalize(col("t"), "NFC"), "NFC"))
      .collect()(0).getString(0)
    assert(twice === nfc)
    graft.GraftExtensions.register(spark)
    assert(df.selectExpr("graft_unicode_normalize(t, 'NFC')")
      .collect()(0).getString(0) === nfc)
  }
}
