package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Recall self-checks for the blocked/approximate dedup + ANN operators
  * against their brute-force exact twins — the correctness evidence for
  * the operators the DuckDB oracle can't express (engine-local hashes).
  *
  * Fixture: a deterministic corpus of base documents plus perturbed
  * near-duplicates at controlled edit intensities, so the exact pair
  * set is non-trivial at every threshold the operators use.
  */
class DedupSpec extends AnyFunSuite {

  // ---- paragraph boilerplate pruning -------------------------------

  test("paragraphPrune: corpus-wide repeats drop, order survives, " +
      "all-boilerplate docs stay as empty text") {
    import spark.implicits._
    val footer = "subscribe now"
    val rows = Seq(
      (1L, s"unique one\n\n$footer\n\ntail one"),
      (2L, s"unique two\n\n$footer"),
      (3L, footer),                      // only boilerplate → empty doc
      (4L, s"self\n\nself\n\n$footer"))  // self-repeat is NOT boilerplate
      .toDF("doc_id", "text")
    val got = Dedup.paragraphPrune(rows, col("text"), col("doc_id"),
        minRepeats = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === (("unique one\n\ntail one", 3L, 1L)))
    assert(got(2L) === (("unique two", 2L, 1L)))
    assert(got(3L) === (("", 1L, 1L)))   // doc survives, text empty
    assert(got(4L) === (("self\n\nself", 3L, 1L))) // both selfs kept
  }

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** 80 base docs drawn from a 300-word synthetic vocabulary (wide
    * enough that unrelated docs stay dissimilar at the n-gram level) +
    * a near-dup of each even doc with two words substituted (gram
    * Jaccard ≈ 0.9) — deterministic, no RNG state. */
  lazy val docs: DataFrame = {
    import spark.implicits._
    val cons = "bcdfghjklmnpqrstvwxz"; val vow = "aeiou"
    val vocab = (0 until 300).map(i =>
      "" + cons(i % 20) + vow(i / 20 % 5) + cons(i / 7 % 20) + vow(i % 5) + cons(i * 13 % 20))
    def word(seed: Int): String = vocab(math.abs(seed * 2654435761L % vocab.size).toInt)
    val base = (0 until 80).map { d =>
      val words = (0 until 60).map(w => word(d * 131 + w * 7 + 3))
      (d.toLong, words.mkString(" "))
    }
    val dups = (0 until 80 by 2).map { d =>
      val words = (0 until 60).map { w =>
        if (w % 30 == 5) word(d * 131 + w * 7 + 9999) // two substitutions
        else word(d * 131 + w * 7 + 3)
      }
      (1000L + d, words.mkString(" "))
    }
    (base ++ dups).toDF("doc_id", "text")
  }

  def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("simhash multi-index blocking is EXACT (default config: 4x16-bit chunks, radius 1)") {
    val blocked = pairSet(Dedup.simhashPairs(docs, col("text"), col("doc_id"), maxHamming = 7))
    val brute = pairSet(Dedup.simhashExact(docs, col("text"), col("doc_id"), maxHamming = 7))
    assert(brute.nonEmpty, "fixture must contain simhash near-dups")
    assert(blocked === brute)
  }

  test("simhash exact-chunk (radius 0) blocking is EXACT for maxHamming < chunks (pigeonhole)") {
    val blocked = pairSet(Dedup.simhashPairs(docs, col("text"), col("doc_id"),
      maxHamming = 7, chunks = 8)) // r = floor(7/8) = 0: the classic pigeonhole join
    val brute = pairSet(Dedup.simhashExact(docs, col("text"), col("doc_id"), maxHamming = 7))
    assert(blocked === brute)
  }

  test("simhash radius-1 ball join is EXACT where radius 0 would lose pairs (h = chunks)") {
    // 8 errors over 8 chunks can hit every chunk once — the r=0 join
    // would silently lose those pairs; r=1 (auto: floor(8/8)) keeps
    // recall 1.0
    val blocked = pairSet(Dedup.simhashPairs(docs, col("text"), col("doc_id"),
      maxHamming = 8, chunks = 8))
    val brute = pairSet(Dedup.simhashExact(docs, col("text"), col("doc_id"), maxHamming = 8))
    assert(brute.nonEmpty)
    assert(blocked === brute)
  }

  test("simhash rejects per-chunk radius >= 2 (ball enumeration blowup)") {
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, col("text"), col("doc_id"), maxHamming = 8, chunks = 4)
    }
  }

  test("simhash bucket cap bounds BOTH join sides: clones pair neither exactly nor via ball keys") {
    import spark.implicits._
    // 30 identical docs: same fingerprint, so every chunk bucket holds
    // all 30 (> cap 20) and is dropped. The radius-1 ball rows of a
    // dropped bucket must be dropped WITH it — otherwise the clones'
    // ball rows land on 16 neighbor keys per chunk and multiply
    // against the corpus there. The base fixture's own near-dups must
    // still pair via their surviving chunks.
    val clones = (0 until 30).map(i => (9000L + i, "identical clone payload text " * 10))
    val d = docs.unionByName(clones.toDF("doc_id", "text"))
    val capped = pairSet(Dedup.simhashPairs(d, col("text"), col("doc_id"),
      maxHamming = 7, bucketCap = 20))
    assert(!capped.exists { case (a, b) => a >= 9000L || b >= 9000L },
      "clone buckets exceed the cap in every chunk — clones must not pair")
    val baseline = pairSet(Dedup.simhashPairs(docs, col("text"), col("doc_id"),
      maxHamming = 7, bucketCap = 20))
    assert(baseline.nonEmpty)
    assert(baseline.subsetOf(capped), "non-clone pairs must be unaffected by the clone cluster")
  }

  test("banded ngram LSH recall vs exact pairs at the 0.8 threshold") {
    val exact = pairSet(Dedup.ngramJaccardExact(docs, col("text"), col("doc_id"),
      n = 3, threshold = 0.8))
    val blocked = pairSet(Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"),
      n = 3, threshold = 0.8))
    assert(exact.size >= 20, s"fixture too weak: ${exact.size} exact pairs")
    assert(blocked.subsetOf(exact), "verification must make precision exact")
    val recall = blocked.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall (${blocked.size}/${exact.size})")
  }

  test("minhash LSH recall vs exact shingle pairs") {
    val exact = pairSet(Dedup.shingleJaccardExact(docs, col("text"), col("doc_id"),
      shingleK = 2, threshold = 0.5))
    val blocked = pairSet(Dedup.minhashLSH(docs, col("text"), col("doc_id"),
      shingleK = 2, numHashes = 16, bands = 8, jaccardThreshold = 0.5))
    assert(exact.size >= 20, s"fixture too weak: ${exact.size} exact pairs")
    assert(blocked.subsetOf(exact))
    val recall = blocked.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall (${blocked.size}/${exact.size})")
  }

  test("hotElemFrac scrubs boilerplate-driven pairs, keeps organic near-dups") {
    import spark.implicits._
    // 30 docs with unique bodies + a shared 12-word boilerplate tail
    // (pairwise similar ONLY through the tail), plus one organic
    // near-dup pair sharing a real body
    val tail = "subscribe to our newsletter accept cookies terms of " +
      "service privacy policy"
    val body = (i: Int) => s"unique body number $i with words " +
      s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i"
    val rows = (1 to 30).map(i => (i.toLong, body(i) + " " + tail)) ++
      Seq((100L, "the quick brown fox jumps over the lazy dog tonight " + tail),
          (101L, "the quick brown fox jumps over the lazy dog today " + tail))
    val d = rows.toDF("doc_id", "text")
    val noScrub = pairSet(Dedup.minhashLSH(d, col("text"), col("doc_id"),
      shingleK = 2, numHashes = 16, bands = 8, jaccardThreshold = 0.25))
    // boilerplate floods the pair list without the scrub
    assert(noScrub.size > 50, s"fixture too weak: ${noScrub.size}")
    val scrubbed = pairSet(Dedup.minhashLSH(d, col("text"), col("doc_id"),
      shingleK = 2, numHashes = 16, bands = 8, jaccardThreshold = 0.25,
      hotElemFrac = 0.2))
    // tail shingles sit in >20% of docs → scrubbed; the organic pair's
    // body shingles are rare → it must survive
    assert(scrubbed.contains((100L, 101L)),
      s"organic near-dup lost: $scrubbed")
    assert(scrubbed.size < 10, s"boilerplate pairs survived: ${scrubbed.size}")
    assert(Ledger.recent().exists(_._1 == "minhash_hot_elems"))
  }

  test("ngram hotElemFrac scrubs boilerplate char-grams, keeps organic dups") {
    import spark.implicits._
    // same shape as the minhash scrub spec, but the flood rides
    // char-3-grams of a shared tail; the organic pair differs by one
    // trailing word so its char-gram Jaccard stays above 0.5
    val tail = " subscribe newsletter accept cookies terms privacy"
    val rows = (1 to 30).map(i =>
      (i.toLong, s"unique body $i alpha$i beta$i gamma$i delta$i" + tail)) ++
      Seq((100L, "the quick brown fox jumps over the lazy dog tonight" + tail),
          (101L, "the quick brown fox jumps over the lazy dog tonight" + tail))
    val d = rows.toDF("doc_id", "text")
    val noScrub = pairSet(Dedup.ngramJaccardPairs(d, col("text"),
      col("doc_id"), n = 3, threshold = 0.3))
    assert(noScrub.size > 20, s"fixture too weak: ${noScrub.size}")
    val scrubbed = pairSet(Dedup.ngramJaccardPairs(d, col("text"),
      col("doc_id"), n = 3, threshold = 0.3, hotElemFrac = 0.2))
    assert(scrubbed.contains((100L, 101L)), s"organic pair lost: $scrubbed")
    assert(scrubbed.size < 10, s"boilerplate pairs survived: ${scrubbed.size}")
  }

  test("perDocCap bounds each doc's candidate fan-out deterministically") {
    import spark.implicits._
    // a 12-doc identical-text clique: 66 pairs uncapped
    val d = (1 to 12).map(i => (i.toLong,
      "identical clique text shared by every document here")).toDF("doc_id", "text")
    val full = pairSet(Dedup.minhashLSH(d, col("text"), col("doc_id"),
      shingleK = 2, numHashes = 16, bands = 8, jaccardThreshold = 0.5))
    assert(full.size === 66)
    val capped = pairSet(Dedup.minhashLSH(d, col("text"), col("doc_id"),
      shingleK = 2, numHashes = 16, bands = 8, jaccardThreshold = 0.5,
      perDocCap = 3))
    assert(capped.subsetOf(full))
    assert(capped.nonEmpty && capped.size < 66)
    // global volume bound: each doc keeps ≤ cap candidates per role
    assert(capped.size <= 2 * 12 * 3, s"volume bound violated: ${capped.size}")
    // every clique member still reaches the cluster through some pair
    val touched = capped.flatMap(p => Seq(p._1, p._2))
    assert((1 to 12).forall(i => touched.contains(i.toLong)))
  }

  test("bucket cap drops oversized buckets (skew insurance) without killing the rest") {
    // cap of 1 kills every 2+ bucket: identical docs still pair only if
    // some bucket stays under the cap — with cap 1 nothing can pair
    val capped = Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"),
      n = 3, threshold = 0.8, bucketCap = 1)
    assert(capped.count() === 0L)
  }

  test("connected components: chains converge to the min label") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L), (11L, 12L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("char-ngram hash kernel matches the Column twin's Jaccard on non-BMP text") {
    import spark.implicits._
    // astral codepoints occupy TWO UTF-16 chars; a char-window kernel
    // would split the surrogate pair and diverge from the codepoint
    // substr() Column formulation
    val df = Seq(("ab😀cd efg", "ab😀cd efh")).toDF("a", "b")
    val viaCols = df.select(Dedup.jaccard(
      Dedup.charNgrams(col("a"), 3), Dedup.charNgrams(col("b"), 3))).head.getDouble(0)
    val viaKernel = df.select(Dedup.jaccard(
      graft.functions.GraftFunctions.charNgramHashes(col("a"), 3),
      graft.functions.GraftFunctions.charNgramHashes(col("b"), 3))).head.getDouble(0)
    assert(viaCols === viaKernel)
    assert(viaCols > 0.0 && viaCols < 1.0)
  }

  test("connected components surfaces non-convergence when maxIter trips") {
    import spark.implicits._
    // a path graph needs ~diameter rounds; maxIter=2 cannot finish it
    val path = (0 until 10).map(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")
    val r = Dedup.connectedComponentsResult(path, maxIter = 2)
    assert(!r.converged)
    assert(r.iterations === 2)
    val full = Dedup.connectedComponentsResult(path, maxIter = 20)
    assert(full.converged)
    assert(full.labels.select("cluster").distinct().collect().map(_.getLong(0)).toSet === Set(0L))
  }

  test("winnowing guarantee: a shared substring of >= w+k-1 codepoints yields a shared fingerprint") {
    import spark.implicits._
    val docText = docs.filter(col("doc_id") === 0L).collect().head.getString(1)
    val other = docs.filter(col("doc_id") === 2L).collect().head.getString(1)
    // embed a 40-char slice of doc 0 (>= w+k-1 = 15) in the middle of doc 2's text
    val slice = docText.substring(50, 90)
    val host = other.substring(0, 100) + " " + slice + " " + other.substring(100)
    val pairDf = Seq((1L, docText), (2L, host)).toDF("doc_id", "text")
      .select(Dedup.winnow(col("text"), 8, 8).as("fps"), col("doc_id"))
    val fps = pairDf.orderBy("doc_id").collect().map(_.getSeq[Long](0).toSet)
    assert((fps(0) intersect fps(1)).nonEmpty, "winnowing guarantee violated")
  }

  test("containment pairs catch doc-in-doc duplication that Jaccard funnels miss by design") {
    import spark.implicits._
    // plant: doc 7000 = doc 0's full text embedded inside doc 1's text.
    // Gram-set containment of doc 0 in doc 7000 is ~1.0, but Jaccard is
    // ~|A|/|B| ~ 0.5 and the LSH size-ratio guard (|A|/|B| >= t) plus
    // the 0.8 threshold make the banded funnel structurally blind to it.
    val t0 = docs.filter(col("doc_id") === 0L).collect().head.getString(1)
    val t1 = docs.filter(col("doc_id") === 1L).collect().head.getString(1)
    val d = docs.unionByName(Seq((7000L, t1 + " " + t0)).toDF("doc_id", "text"))
    val contained = pairSet(Dedup.containmentPairs(d, col("text"), col("doc_id"),
      k = 8, w = 8, threshold = 0.8))
    assert(contained.contains((0L, 7000L)),
      s"containment must find the embedded doc, got $contained")
    val jaccardBlind = pairSet(Dedup.ngramJaccardPairs(d, col("text"), col("doc_id"),
      n = 3, threshold = 0.8))
    assert(!jaccardBlind.contains((0L, 7000L)),
      "fixture broken: the Jaccard funnel should miss a ~0.5-Jaccard containment pair")
    // and the winnowed estimate tracks the exact gram containment
    val exact = Dedup.containmentExact(
      d.filter(col("doc_id").isin(0L, 7000L)), col("text"), col("doc_id"),
      n = 8, threshold = 0.8)
    assert(exact.count() === 1L, "exact 8-gram containment of the planted pair must be ~1")
  }

  test("containment bucket cap drops boilerplate fingerprints without killing the rest") {
    import spark.implicits._
    // 30 docs = one shared boilerplate sentence + a body of per-doc
    // UNIQUE words (no cross-doc grams outside the boilerplate), plus
    // one doc and its verbatim copy. The boilerplate fps land in
    // 30-doc buckets (> cap 20) and are dropped — the boilerplate
    // cluster generates zero candidates — while the copy pair's
    // unique-body fps (buckets of 2) survive and verify at 1.0.
    val boiler = "this content is provided as is without warranty of any kind whatsoever"
    val bodies = (0 until 30).map(i => (8000L + i,
      boiler + " " + (0 until 30).map(w => s"unq${i}word$w").mkString(" ")))
    val orig = (0 until 30).map(w => s"origdoc${w}token$w").mkString(" ")
    val d = (bodies ++ Seq((100L, orig), (9500L, orig))).toDF("doc_id", "text")
    val got = pairSet(Dedup.containmentPairs(d, col("text"), col("doc_id"),
      k = 8, w = 8, threshold = 0.9, bucketCap = 20))
    assert(got === Set((100L, 9500L)),
      s"only the true containment pair may survive the cap, got $got")
    // the proportional twin reaches the same verdict: frac 0.5 of 32
    // docs = cap 16 < the 30-doc boilerplate buckets, and the copy
    // pair's 2-doc buckets ride under any floor. Engagement ledgered.
    val mark = Ledger.mark()
    val gotFrac = pairSet(Dedup.containmentPairs(d, col("text"), col("doc_id"),
      k = 8, w = 8, threshold = 0.9, bucketFrac = 0.5))
    assert(gotFrac === Set((100L, 9500L)),
      s"bucketFrac must reach the same verdict as the absolute cap, got $gotFrac")
    assert(Ledger.since(mark).exists(_._1 == "contain_bucket_frac"),
      "proportional-cap engagement must be ledgered")
  }

  test("exact dedup clusters identical texts") {
    import spark.implicits._
    val d = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val r = Dedup.exact(d, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(r === Set((1L, 2L), (3L, 1L))) // (keep_id, cluster_size)
  }

  test("embedding-cosine near-dup recall on planted near-duplicates") {
    import spark.implicits._
    // 120 deterministic pseudo-random 32-dim vectors + a near-dup of
    // every third (one coordinate nudged → cosine ≈ 0.99)
    def unit(seed: Int): Array[Float] = {
      val raw = Array.tabulate(32)(i => (((seed * 1297 + i * 31 + 7) * 2654435761L % 1000).toInt - 500) / 500.0f)
      val n = math.sqrt(raw.map(x => x * x).sum).toFloat
      raw.map(_ / n)
    }
    val base = (0 until 120).map(i => (i.toLong, unit(i)))
    val dups = (0 until 120 by 3).map { i =>
      val v = unit(i).clone(); v(0) = v(0) + 0.15f
      (1000L + i, v)
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.cosinePairsExact(emb, col("vec_id"), col("embedding"), 0.9))
    val blocked = pairs(Similarity.cosinePairs(emb, col("vec_id"), col("embedding"), 0.9))
    assert(exact.size >= 40, s"fixture too weak: ${exact.size}")
    assert(blocked.subsetOf(exact))
    val recall = blocked.size.toDouble / exact.size
    assert(recall >= 0.85, s"recall $recall (${blocked.size}/${exact.size})")
  }

  test("top-k aggregate is O(k)-bounded (no collect_list) and matches the sort-based answer") {
    // 200k scored rows forced into ONE partition with only 3 query keys —
    // the exact shape that made the old collect_list-then-slice reducer
    // buffer O(partition); the bounded-heap aggregate must keep the plan
    // free of any full-width collect and still produce the sorted answer
    val scored = spark.range(200000).coalesce(1)
      .select((col("id") % 3).as("q"),
        (hash(col("id")).cast("double") / 1e9).as("score"),
        col("id").as("vid"))
    val got = Similarity.topKPerKey(scored, col("q"), col("score"), col("vid"), 10)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("collect_list"),
      "top-k must not materialize group rows")
    assert(plan.contains("top_k"), "bounded-heap aggregate missing from plan")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q")
      .orderBy(col("score").desc, col("vid").asc)
    val exp = scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
    val g = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val e = exp.collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(1))).toSet
    assert(g.size === 30)
    assert(g === e)
  }

  test("cosinePairs bucket cap drops a planted oversized bucket, recall survives on the other tables") {
    import spark.implicits._
    // the 120+40 fixture from the recall test, plus 30 IDENTICAL copies
    // of a fresh vector: identical vectors share their bucket in EVERY
    // hash table, so with cap < 30 every one of their buckets is
    // oversized and dropped whole — no clone may pair. The planted
    // near-dups of the base fixture lose at most the tables where they
    // collide with the clone bucket; the remaining independent tables
    // must keep recall >= 0.85.
    def unit(seed: Int): Array[Float] = {
      val raw = Array.tabulate(32)(i => (((seed * 1297 + i * 31 + 7) * 2654435761L % 1000).toInt - 500) / 500.0f)
      val n = math.sqrt(raw.map(x => x * x).sum).toFloat
      raw.map(_ / n)
    }
    val base = (0 until 120).map(i => (i.toLong, unit(i)))
    val dups = (0 until 120 by 3).map { i =>
      val v = unit(i).clone(); v(0) = v(0) + 0.15f
      (1000L + i, v)
    }
    val clones = (0 until 30).map(i => (5000L + i, unit(777)))
    val emb = (base ++ dups ++ clones).toDF("vec_id", "embedding")
    def pairs(df: DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = pairs(Similarity.cosinePairs(emb, col("vec_id"), col("embedding"), 0.9,
      bucketCap = 20))
    assert(!capped.exists { case (a, b) => a >= 5000L || b >= 5000L },
      "every clone bucket exceeds the cap in every table — clones must not pair")
    val planted = dups.map { case (did, _) => (did - 1000L, did) }.toSet
    val expected = planted.filter { case (a, b) => // planted pairs that really sit >= 0.9
      pairs(Similarity.cosinePairsExact(emb.filter(col("vec_id").isin(a, b)),
        col("vec_id"), col("embedding"), 0.9)).nonEmpty
    }
    val found = capped intersect expected
    val recall = found.size.toDouble / expected.size
    assert(expected.size >= 30, s"fixture too weak: ${expected.size}")
    assert(recall >= 0.85, s"planted recall under cap $recall (${found.size}/${expected.size})")
  }

  test("cosinePairs auto-planes derives selectivity from corpus size") {
    import spark.implicits._
    // 160 vectors → ceil(log2(160/64)) clamped to the floor of 4 —
    // and the auto mode still finds planted pairs (recall via tables)
    def unit(seed: Int): Array[Float] = {
      val raw = Array.tabulate(32)(i => (((seed * 1297 + i * 31 + 7) * 2654435761L % 1000).toInt - 500) / 500.0f)
      val n = math.sqrt(raw.map(x => x * x).sum).toFloat
      raw.map(_ / n)
    }
    val base = (0 until 120).map(i => (i.toLong, unit(i)))
    val dups = (0 until 120 by 3).map { i =>
      val v = unit(i).clone(); v(0) = v(0) + 0.15f
      (1000L + i, v)
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    val auto = Similarity.cosinePairs(emb, col("vec_id"), col("embedding"), 0.9,
      planes = 0)
    assert(auto.count() >= 30, "auto-planes mode must still find the planted near-dups")
  }

  test("int8 quantization cosine error is bounded") {
    // max |cos(q8(a), q8(b)) - cos(a, b)| over all query-corpus pairs:
    // per-coordinate error <= 1/254 of the max-abs, so cosine moves by
    // O(sqrt(d)/127) — assert a 0.02 ceiling on the real table
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 20)
      .select(col("embedding").as("e_q"), Similarity.quantizeQ8(col("embedding")).as("q_q"))
    val c = emb.select(col("embedding").as("e_c"), Similarity.quantizeQ8(col("embedding")).as("q_c"))
    val maxErr = c.join(broadcast(q))
      .select(abs(
        Similarity.cosine(col("q_q").cast("array<float>"), col("q_c").cast("array<float>")) -
          Similarity.cosine(col("e_q"), col("e_c"))).as("err"))
      .agg(max("err")).head.getDouble(0)
    assert(maxErr <= 0.02, s"quantization cosine error $maxErr")
  }

  test("IVF quantizer fit set is bounded and storage-order independent") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val fit = Similarity.quantizerFitSet(emb, 100)
    assert(fit.count() === 100L)
    val plan = fit.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrdered"),
      s"fit sample must reduce O(fitSample) per partition, not scan-then-limit: ${plan.take(500)}")
    // deterministic: same draw on every invocation
    val a = fit.select("vec_id").collect().map(_.getLong(0)).toSet
    val b = Similarity.quantizerFitSet(emb, 100).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(a === b)
  }

  test("star-contraction CC: O(log n) rounds on a chain, labels match label propagation") {
    import spark.implicits._
    // a 256-node path (diameter 255): min-label propagation is
    // O(diameter) — ~255 rounds — star contraction must finish in
    // O(log n) alternating rounds (+1 fixpoint-confirmation round)
    val path = (0L until 255L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // smallGraphEdges = 0 forces the DISTRIBUTED loop (the property
    // under test); the default gate would take the driver fast path
    val r = Dedup.connectedComponentsStar(path, smallGraphEdges = 0L)
    assert(r.converged)
    assert(r.iterations <= 12, s"took ${r.iterations} rounds for a 256-chain")
    val labels = r.labels.collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(labels.length === 256 && labels.forall(_._2 == 0L))
    // the small-graph fast path must produce identical labels in 0 rounds
    val fast = Dedup.connectedComponentsStar(path)
    assert(fast.iterations === 0 && fast.converged)
    assert(fast.labels.collect().map(x => (x.getLong(0), x.getLong(1)))
      .sortBy(_._1).toSeq === labels.sortBy(_._1).toSeq)
    // identical clustering on a realistic near-dup pair set
    val pairs = Dedup.ngramJaccardExact(docs, col("text"), col("doc_id"),
      n = 3, threshold = 0.5).localCheckpoint(true)
    def lbl(r: Dedup.CCResult) =
      r.labels.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(lbl(Dedup.connectedComponentsResult(pairs, 20)) ===
      lbl(Dedup.connectedComponentsStar(pairs, 50)))
  }

  test("persisted IVF index: same rows as inline, probed-partition-only reads") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val dir = graft.TempDirs.create("graft_ivf").toString
    Similarity.buildIvfIndex(emb, s"$dir/ivf", nlist = 16)
    // layout: one directory per inverted list
    val listDirs = new java.io.File(s"$dir/ivf/lists").listFiles()
      .map(_.getName).filter(_.startsWith("__list="))
    assert(listDirs.length === 16, listDirs.sorted.mkString(","))
    def rows(df: DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // same seed/fit set ⇒ the persisted index reproduces the inline
    // path's centroids, probes, and scores exactly
    val inline = rows(Similarity.ivfTopK(emb, queries, k = 10, nlist = 16, nprobe = 6))
    val indexed = rows(Similarity.ivfTopKIndexed(spark, s"$dir/ivf", queries, k = 10, nprobe = 6))
    assert(indexed === inline)
    // pruning proof: one query at nprobe=2 must carry a partition
    // IN-filter and read at most 2 of the 16 list files (AQE off so the
    // executed plan exposes the scan nodes directly)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val one = Similarity.ivfTopKIndexed(spark, s"$dir/ivf",
        emb.filter(col("vec_id") === 3), k = 5, nprobe = 2)
      assert(one.count() === 5L)
      val scans = one.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains("lists")) => f
      }
      assert(scans.nonEmpty, one.queryExecution.executedPlan.toString.take(2000))
      assert(scans.head.toString.contains("PartitionFilters"), scans.head.toString.take(1000))
      val files = scans.map(_.metrics("numFiles").value).sum
      assert(files <= 2, s"nprobe=2 read $files list files")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("IVF-SQ8 quantized lists and incremental append to a persisted index") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    def top(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = top(Similarity.bruteForceTopK(emb, queries, k = 10))
    // quantized lists: same pruning machinery, byte-native scoring,
    // recall class preserved (inline IVF measures 0.90 on this corpus)
    val dir = graft.TempDirs.create("graft_ivfq8").toString
    Similarity.buildIvfIndex(emb, s"$dir/ivf", nlist = 16, quantize = true)
    val stored = spark.read.parquet(s"$dir/ivf/lists")
    assert(stored.columns.contains("q8") && !stored.columns.contains("embedding"))
    val got = Similarity.ivfTopKIndexed(spark, s"$dir/ivf", queries, k = 10, nprobe = 6)
    val recall = (brute intersect top(got)).size.toDouble / brute.size
    assert(recall >= 0.85, s"IVF-SQ8 recall@10 $recall")
    // incremental append: build on half the corpus, append the rest —
    // appended vectors assign to their nearest STORED centroid, land in
    // existing list partitions, and are immediately queryable
    val n = emb.count()
    val dir2 = graft.TempDirs.create("graft_ivfapp").toString
    Similarity.buildIvfIndex(emb.filter(col("vec_id") < n / 2), s"$dir2/ivf", nlist = 16)
    Similarity.appendToIvfIndex(spark, s"$dir2/ivf", emb.filter(col("vec_id") >= n / 2))
    val lists = spark.read.parquet(s"$dir2/ivf/lists")
    assert(lists.count() === n, "every vector exactly once after append")
    assert(lists.select("__list").distinct().count() <= 16L, "no new partitions")
    val probes = emb.filter(col("vec_id") >= n / 2 && col("vec_id") < n / 2 + 3)
    val self = Similarity.ivfTopKIndexed(spark, s"$dir2/ivf", probes, k = 1, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(self.length === 3)
    assert(self.forall { case (q, v, s) => q == v && s >= 0.9999 },
      s"appended vectors must find themselves: ${self.mkString(",")}")
  }

  test("compactIvfIndex: append-fragmented lists shrink, query rows identical") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    val dir = graft.TempDirs.create("graft_ivfcmp").toString
    // fragment the store the way streaming ingest does: a base build
    // plus several small appends, each leaving its own files per list
    Similarity.buildIvfIndex(emb.filter(col("vec_id") < n / 2), s"$dir/ivf",
      nlist = 8)
    (0 until 4).foreach { i =>
      Similarity.appendToIvfIndex(spark, s"$dir/ivf",
        emb.filter(col("vec_id") >= n / 2 + i * 50 &&
          col("vec_id") < n / 2 + (i + 1) * 50))
    }
    val queries = emb.filter(col("vec_id") < 5)
    def rows(df: DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = rows(Similarity.ivfTopKIndexed(spark, s"$dir/ivf", queries,
      k = 10, nprobe = 4))
    val (rewritten, filesBefore, filesAfter) =
      Similarity.compactIvfIndex(spark, s"$dir/ivf", targetFileBytes = 1L << 30)
    assert(rewritten > 0 && filesAfter < filesBefore,
      s"expected fewer files: $filesBefore -> $filesAfter ($rewritten dirs)")
    // partition layout intact (pruned reads still work), one file per list
    val listDirs = new java.io.File(s"$dir/ivf/lists").listFiles()
      .filter(_.getName.startsWith("__list="))
    assert(listDirs.forall(
      _.listFiles().count(_.getName.endsWith(".parquet")) == 1))
    val after = rows(Similarity.ivfTopKIndexed(spark, s"$dir/ivf", queries,
      k = 10, nprobe = 4))
    assert(after === before, "compaction must not change query results")
    assert(spark.read.parquet(s"$dir/ivf/lists").count() === n / 2 + 200)
  }

  test("stored int8 corpus: byte-native scoring identical to on-the-fly SQ8") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val dir = graft.TempDirs.create("graft_q8").toString
    Similarity.buildQ8Corpus(emb, s"$dir/q8")
    val stored = spark.read.parquet(s"$dir/q8")
    stored.schema("q8").dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType, _) =>
      case t => fail(s"stored corpus must be ARRAY<TINYINT>, got $t")
    }
    // the int8-native kernel (long-exact accumulation) is bit-identical
    // to casting the bytes to float and running the double-accumulating
    // float cosine — the formulation the error bound was proven against
    val kernelDiff = stored.limit(200)
      .crossJoin(broadcast(queries.select(Similarity.quantizeQ8(col("embedding")).as("qq"))))
      .select(abs(
        graft.functions.GraftFunctions.cosineSimQ8(col("qq"), col("q8")) -
          Similarity.cosine(col("qq").cast("array<float>"), col("q8").cast("array<float>"))).as("d"))
      .agg(max("d")).head.getDouble(0)
    assert(kernelDiff === 0.0, s"int8 kernel diverged from cast formulation by $kernelDiff")
    def rows(df: DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows(Similarity.q8TopKStored(spark, s"$dir/q8", queries, k = 10)) ===
      rows(Similarity.q8TopK(emb, queries, k = 10)))
  }

  test("ANN recall@10 harness: brute vs LSH vs IVF, same queries, same k") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    def top(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = top(Similarity.bruteForceTopK(emb, queries, k = 10))
    assert(brute.size === 50)
    // one table for all approximate paths: (name, recall floor, result).
    // Floors come from measured values (lsh ~0.84, ivf ~0.9 on this
    // corpus); a tuning regression in any path trips exactly one row.
    val paths: Seq[(String, Double, DataFrame)] = Seq(
      ("brute", 1.0, Similarity.bruteForceTopK(emb, queries, k = 10)),
      ("lsh", 0.7, Similarity.lshTopK(emb, queries, k = 10, planes = 4, tables = 12)),
      // single-bit-flip multi-probe on the query side: recall class
      // rises from ~0.78 to ~0.95+ at ≤ 5× candidate volume
      ("lsh_multiprobe", 0.9, Similarity.lshTopK(emb, queries, k = 10, planes = 4,
        tables = 12, probeBits = 1)),
      ("ivf", 0.7, Similarity.ivfTopK(emb, queries, k = 10, nlist = 16, nprobe = 6)),
      // the bounded quantizer fit must not change the recall class
      ("ivf_sampled_fit", 0.7, Similarity.ivfTopK(emb, queries, k = 10, nlist = 16,
        nprobe = 6, fitSample = 500)),
      ("q8", 0.8, Similarity.q8TopK(emb, queries, k = 10)))
    val measured = paths.map { case (name, floor, df) =>
      val recall = (brute intersect top(df)).size.toDouble / brute.size
      assert(recall >= floor, s"$name recall@10 $recall below floor $floor")
      f"$name=$recall%.2f"
    }
    info(s"recall@10: ${measured.mkString(" ")}")
  }
  test("SNM: prefix-sorted neighbors pair, distant ranks do not, " +
      "and ranks run globally across first-char buckets") {
    import spark.implicits._
    // aaa-prefixed near-identical pair; "azz" then "b.." adjacent in
    // the GLOBAL order but in different first-char buckets — a wrong
    // bucket-offset sum would miss their pairing; "zzz" doc similar
    // to doc 1 but rank-distant, so SNM must NOT emit it
    val docs = Seq(
      (1L, "aaa common header alpha beta gamma delta"),
      (2L, "aaa common header alpha beta gamma epsilon"),
      (3L, "azz shared tail words one two"),
      (4L, "baa shared tail words one two"),
      (5L, "zzz common header alpha beta gamma delta")
    ).toDF("doc_id", "text")
    val pairs = Dedup.sortedNeighborhoodPairs(docs, col("text"),
        col("doc_id"), sortKeyLen = 8, window = 2, shingleK = 2,
        threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((3L, 4L)), "cross-bucket neighbors must pair")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L),
      "rank-distant similar docs are out of SNM reach by design")
    // widening the window to cover the whole corpus finds 1-5 too
    val wide = Dedup.sortedNeighborhoodPairs(docs, col("text"),
        col("doc_id"), sortKeyLen = 8, window = 5, shingleK = 2,
        threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide.contains((1L, 5L)))
  }
  test("plan: SNM ranks without a global range sort") {
    import spark.implicits._
    val docs = Seq((1L, "aa x y"), (2L, "ab x y")).toDF("doc_id", "text")
    val plan = Dedup.sortedNeighborhoodPairs(docs, col("text"),
        col("doc_id"), window = 2)
      .queryExecution.executedPlan.toString
    // the two-phase bucket rank must not plan the single-task global
    // sort (rangepartitioning) the naive row_number-over-all does
    assert(!plan.contains("rangepartitioning"), plan)
    assert(!plan.contains("SinglePartition) hashpartitioning"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }
  test("SNM rank buckets stay balanced when 90% of keys share a leading byte") {
    import spark.implicits._
    // the pathology first-codepoint bucketing funnels: 90% of sort
    // keys open with 'z'. Quantile cuts over the packed 4-codepoint
    // prefix must still spread the rank stage, and the global rank
    // must remain the exact (key, id) order
    val n = 2000
    val docs = (0 until n).map { i =>
      val t =
        if (i % 10 != 0) f"zskew $i%05d one two three"
        else f"v$i%05d plain one two three"
      (i.toLong, t)
    }.toDF("doc_id", "text")
    val base = docs.select(col("doc_id"),
      lower(substring(trim(col("text")), 1, 24)).as("__k"),
      Dedup.shingles(col("text"), 2).as("__e"))
    val nBuckets = 16
    val ranked = Dedup.globalRankByKey(base, nBuckets)
      .select(col("doc_id"), col("__k"), col("__b"), col("__rank"))
      .collect()
    // ranks are exactly 1..n in (key, id) order
    val byRank = ranked.sortBy(_.getLong(3))
    assert(byRank.map(_.getLong(3)).toSeq === (1L to n.toLong))
    val sortedKeys = ranked.map(r => (r.getString(1), r.getLong(0))).sorted
    assert(byRank.map(r => (r.getString(1), r.getLong(0))).toSeq ===
      sortedKeys.toSeq)
    // balance: no bucket holds more than 3x the even share (the old
    // first-codepoint scheme put 1800 of 2000 rows in one bucket)
    val maxBucket = ranked.groupBy(_.getInt(2)).map(_._2.length).max
    assert(maxBucket <= 3 * n / nBuckets,
      s"rank bucket funneled: max=$maxBucket of $n rows")
  }
  test("global rank is exact for keys mixing U+FFFD, supplementary-plane codepoints, and nulls") {
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    // UTF-16 code-unit order puts surrogate pairs (0xD8xx) BEFORE
    // U+E000..U+FFFF, but Spark's ORDER BY (UTF8String.compareTo,
    // codepoint order) puts them AFTER — the cut sketch must sort in
    // the comparator's order or bucketing silently breaks. Nulls must
    // rank FIRST (nulls-first ORDER BY), never be dropped
    val pieces = Seq("�", "😀", "𐀀", "a", "z", "")
    val rng = new scala.util.Random(11)
    val rows = (0 until 600).map { i =>
      val k = if (i % 37 == 0) null
        else Seq.fill(1 + rng.nextInt(3))(pieces(rng.nextInt(pieces.length))).mkString
      (i.toLong, k)
    }
    val base = rows.toDF("doc_id", "__k").repartition(8)
    val got = Dedup.globalRankByKey(base, nBuckets = 16)
      .select(col("doc_id"), col("__rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size === 600, "null-key rows must not be dropped")
    // driver-side truth in the comparator's own total order
    val truth = rows.sortWith { case ((ida, ka), (idb, kb)) =>
      if (ka == null || kb == null) {
        if ((ka == null) != (kb == null)) ka == null else ida < idb
      } else {
        val c = UTF8String.fromString(ka).compareTo(UTF8String.fromString(kb))
        if (c != 0) c < 0 else ida < idb
      }
    }.map(_._1)
    truth.zipWithIndex.foreach { case (id, pos) =>
      assert(got(id) === pos + 1L, s"doc $id (key ${rows(id.toInt)._2}) rank")
    }
  }
}
