package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.{JArray, JBool, JInt, JNull, JObject, JString, JValue}
import graft.ops._

/** Quality-metrics harness: measures every recall floor / error bound
  * the rows-only queries rely on — numbers that previously lived only
  * in ScalaTest `info()` output — against the REAL driver testdata,
  * and writes `METRICS.json` so the artifact regenerates per round.
  *
  * Each metric pits an approximate operator (at the SAME parameters
  * its SparkEntry registration uses) against an exact ground truth
  * computed on a bounded slice (the exact twins are quadratic by
  * construction):
  *
  *   - ANN recall@10 per path (LSH multi-probe, IVF, Q8, PQ-ADC,
  *     PQ+refine) vs [[Similarity.bruteForceTopK]] on 50 queries.
  *   - near-dup pair recall per funnel (minhash-LSH, char-3-gram LSH,
  *     simhash MIH, winnow containment, embedding hyperplane-LSH) vs
  *     the exact all-pairs twins.
  *   - sketch error: count-min overestimate vs the eps·N bound, HLL
  *     relative error vs 3×rsd, Bloom measured FPR vs analytic,
  *     approx_percentile rank error vs 1/accuracy.
  *
  * Floors mirror the spec assertions (DedupSpec/PqSpec/SketchSpec);
  * `pass=false` on any row is a regression signal, not a judgment
  * call. Informational rows (documented recall trades with no
  * contract, e.g. the embedding funnel at a threshold inside the
  * corpus background band) carry `"floor": null`.
  */
object Metrics {

  final case class Row(name: String, kind: String, value: Double,
      floor: Option[Double], ceiling: Option[Double], n: Long,
      detail: String) {
    def pass: Boolean =
      floor.forall(value >= _) && ceiling.forall(value <= _)
    def json: JObject = JObject(
      "name" -> JString(name), "kind" -> JString(kind),
      "value" -> Harness.num(value, 6),
      "floor" -> floor.fold[JValue](JNull)(Harness.num(_, 6)),
      "ceiling" -> ceiling.fold[JValue](JNull)(Harness.num(_, 6)),
      "n" -> JInt(n), "pass" -> JBool(pass), "detail" -> JString(detail))
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .collect().map(r => (r.getLong(0) min r.getLong(1),
        r.getLong(0) max r.getLong(1))).toSet

  private def topSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("query_id").cast("long"), col("vec_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** recall of `got` against ground-truth set `truth` (both pair sets). */
  private def recall(truth: Set[(Long, Long)], got: Set[(Long, Long)]): Double =
    if (truth.isEmpty) 1.0 else (truth intersect got).size.toDouble / truth.size

  def compute(spark: SparkSession, dir: String): Seq[Row] = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val events = spark.read.parquet(s"$dir/events.parquet")

    val out = scala.collection.mutable.ArrayBuffer[Row]()

    // ---------------- ANN recall@10 (50 queries, brute ground truth) ----
    val queries = emb.filter(col("vec_id") < 50)
    val brute = topSet(Similarity.bruteForceTopK(emb, queries, k = 10))
    def annRow(name: String, floor: Double, df: DataFrame, detail: String): Unit =
      out += Row(name, "recall_at_10", recall(brute, topSet(df)),
        Some(floor), None, brute.size, detail)
    annRow("ann_lsh_topk", 0.90,
      Similarity.lshTopK(emb, queries, k = 10, planes = 4, tables = 12,
        probeBits = 1),
      "hyperplane LSH, 12 tables x 4 planes, 1-bit multi-probe (ann_lsh_topk params)")
    annRow("ann_ivf_topk", 0.70,
      Similarity.ivfTopK(emb, queries, k = 10, nlist = 16, nprobe = 6),
      "IVF k-means nlist=16 nprobe=6 (ann_ivf_topk params); DedupSpec floor 0.70")
    annRow("ann_q8_topk", 0.80,
      Similarity.q8TopK(emb, queries, k = 10),
      "int8 symmetric-quantized brute scan (ann_q8_topk params)")
    annRow("ann_pq_adc", 0.35,
      Similarity.pqTopK(emb, queries, k = 10),
      "PQ/ADC m=16 ks=16, no refine — quantization-bound by design; the refine row carries the user contract")
    annRow("ann_pq_refined_4x", 0.70,
      Similarity.pqTopK(emb, queries, k = 10, refine = 4),
      "PQ/ADC + exact refine of 4x over-fetch (PqSpec shape)")
    annRow("ann_pq_refined_8x", 0.80,
      Similarity.pqTopK(emb, queries, k = 10, refine = 8),
      "PQ/ADC + exact refine of 8x over-fetch — the ann_pq_topk registration params")
    annRow("ann_opq_adc", 0.38,
      Similarity.opqPqTopK(emb, queries, k = 10),
      "parametric OPQ rotation (PCA eigenbasis, eigenvalue-balanced subspaces) + PQ/ADC, no refine — measured 0.42 vs 0.388 unrotated at sf0.1; the synthetic embeddings are near-isotropic so the rotation's headroom is small but real, and the floor sits above the raw-PQ 0.35 row")
    annRow("ann_ivfpq_adc", 0.25,
      Similarity.ivfPqTopK(emb, queries, k = 10, nlist = 16, nprobe = 6,
        refine = 1),
      "IVF-PQ residual codes, pure ADC opt-in (nlist=16 nprobe=6 m=16 ks=16) — coarse pruning x quantization, floor-bound by design")
    annRow("ann_ivfpq_refined_4x", 0.50,
      Similarity.ivfPqTopK(emb, queries, k = 10, nlist = 16, nprobe = 6),
      "IVF-PQ DEFAULT configuration (refine-by-default 4x exact re-rank) — the user contract and the ann_ivfpq_indexed registration shape")
    annRow("ann_opq_ivfpq", 0.50,
      Similarity.opqIvfPqTopK(emb, queries, k = 10, nlist = 16, nprobe = 6),
      "composed OPQ,IVF,PQ chain (parametric rotation + residual codes + default 4x refine, the ann_opq_ivfpq_topk registration params) — shares the ivfpq_refined_4x floor; on this near-isotropic corpus the rotation is neutral (0.666 vs 0.688 unrotated), its payoff is the anisotropic case")
    annRow("ann_opq_np_adc", 0.38,
      Similarity.opqNpPqTopK(emb, queries, k = 10),
      "NON-PARAMETRIC OPQ (Ge et al. §4 alternation, seeded from the parametric rotation) + PQ/ADC, no refine — on this near-isotropic corpus the alternation has little headroom over parametric (same floor); the aniso rows below are where it separates")

    // ---------------- OPQ on a planted ANISOTROPIC corpus -------------
    // The driver embeddings are near-isotropic (flat PCA spectrum), so
    // parametric OPQ buys only ~+0.03 and the non-parametric
    // alternation has no visible headroom. The planted corpus scales
    // dim d by 0.93^d (PqSpec's anisotropy: raw subspace variance
    // ratio > 500), where the recall ordering raw-PQ <= parametric
    // OPQ <= non-parametric OPQ becomes measurable — the r15 verdict
    // item 7 measurement surface.
    val aniso = emb.select(col("vec_id"),
      transform(col("embedding"), (x, d) =>
        (x * pow(lit(0.93), d.cast("double"))).cast("float"))
        .as("embedding")).persist()
    try {
      val anisoQ = aniso.filter(col("vec_id") < 50)
      val bruteA = topSet(Similarity.bruteForceTopK(aniso, anisoQ, k = 10))
      def anisoRow(name: String, floor: Option[Double], df: DataFrame,
          detail: String): Unit =
        out += Row(name, "recall_at_10", recall(bruteA, topSet(df)),
          floor, None, bruteA.size, detail)
      anisoRow("ann_pq_aniso", None,
        Similarity.pqTopK(aniso, anisoQ, k = 10),
        "raw-axis PQ/ADC on the 0.93^d planted corpus — context row (no contract): axis order concentrates variance into the first subspaces")
      anisoRow("ann_opq_aniso", Some(0.70),
        Similarity.opqPqTopK(aniso, anisoQ, k = 10),
        "parametric OPQ on the planted corpus — eigenbasis + balanced allocation recovers most of the raw-axis loss (measured 0.778 vs 0.362 raw at sf0.1)")
      anisoRow("ann_opq_np_aniso", Some(0.72),
        Similarity.opqNpPqTopK(aniso, anisoQ, k = 10),
        "non-parametric OPQ on the planted corpus (measured 0.792 at sf0.1) — floored ABOVE the parametric row's 0.70: the alternation's contract is to never fall below the seed; PqSpec pins the monotone objective + orthogonality")
    } finally aniso.unpersist()

    // ---------------- near-dup funnel pair recall (bounded exact twin) --
    // exact all-pairs twins are quadratic: bound the slice so ground
    // truth is ~2M candidate pairs, not 12.5M
    val sample = docs.filter(col("doc_id") < 2000)
    val exactMinhash = pairSet(Dedup.shingleJaccardExact(sample,
      col("text"), col("doc_id"), shingleK = 2, threshold = 0.3))
    out += Row("dedup_minhash_pairs", "pair_recall",
      recall(exactMinhash, pairSet(Dedup.minhashLSH(sample, col("text"),
        col("doc_id"), shingleK = 2, numHashes = 16, bands = 8,
        jaccardThreshold = 0.3))),
      Some(0.90), None, exactMinhash.size,
      "vs exact 2-shingle Jaccard>=0.3 all-pairs on doc_id<2000")

    val exactNgram = pairSet(Dedup.ngramJaccardExact(sample, col("text"),
      col("doc_id"), n = 3, threshold = 0.8))
    out += Row("dedup_ngram_pairs", "pair_recall",
      recall(exactNgram, pairSet(Dedup.ngramJaccardPairs(sample,
        col("text"), col("doc_id"), n = 3, threshold = 0.8))),
      Some(0.90), None, exactNgram.size,
      "vs exact char-3-gram Jaccard>=0.8 all-pairs on doc_id<2000")

    // simhash MIH candidates are pigeonhole-EXACT: recall must be 1.0
    val fps = sample.select(col("doc_id"),
      Dedup.simhash(col("text")).as("fp")).repartition(8, col("doc_id"))
    val a = fps.select(col("doc_id").as("id_a"), col("fp").as("f_a"))
    val b = fps.select(col("doc_id").as("id_b"), col("fp").as("f_b"))
    val exactSim = pairSet(a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(bit_count(expr("f_a ^ f_b")) <= 7)
      .select("id_a", "id_b"))
    out += Row("dedup_simhash_pairs", "pair_recall",
      recall(exactSim, pairSet(Dedup.simhashPairs(sample, col("text"),
        col("doc_id"), maxHamming = 7))),
      Some(1.0), None, exactSim.size,
      "vs brute-force hamming<=7 on doc_id<2000 — MIH blocking is exact by pigeonhole")

    // containment truth restricted to the WINNOWING GUARANTEE: winnow
    // (k=8, w=24) promises a shared fingerprint only for pairs sharing
    // a run >= w+k-1 = 31 chars (Schleimer et al.); pairs whose 0.5
    // gram-containment comes from scattered short matches are outside
    // any fingerprint scheme's contract. Uncapped recall on the
    // guaranteed set must be exactly 1.0 (theorem check); the
    // registered bucketCap=200 run quantifies the documented
    // boilerplate-drop trade on the same truth set.
    val exactC = Dedup.containmentExact(sample, col("text"),
      col("doc_id"), n = 8, threshold = 0.5)
    val texts = sample.select(col("doc_id"), col("text"))
    val exactContain = pairSet(exactC
      .join(texts.select(col("doc_id").as("id_a"), col("text").as("t_a")),
        Seq("id_a"))
      .join(texts.select(col("doc_id").as("id_b"), col("text").as("t_b")),
        Seq("id_b"))
      .filter(arrays_overlap(Dedup.charNgrams(col("t_a"), 31),
        Dedup.charNgrams(col("t_b"), 31))))
    out += Row("dedup_contain_pairs_guarantee", "pair_recall",
      recall(exactContain, pairSet(Dedup.containmentPairs(sample,
        col("text"), col("doc_id"), k = 8, w = 24, threshold = 0.5,
        minShared = 1))),
      Some(1.0), None, exactContain.size,
      "vs exact containment>=0.5 pairs sharing a >=31-char run on doc_id<2000, " +
      "funnel at minShared=1/no cap — the winnowing theorem: recall must be exactly 1.0")
    out += Row("dedup_contain_pairs", "pair_recall",
      recall(exactContain, pairSet(Dedup.containmentPairs(sample,
        col("text"), col("doc_id"), k = 8, w = 24, threshold = 0.5,
        bucketCap = 200))),
      None, None, exactContain.size,
      "informational: same truth under the registered minShared=3 noise floor + " +
      "bucketCap=200 boilerplate drop — the measured cost of the two documented trades")

    // embedding hyperplane funnel: the registered 0.45 threshold sits
    // inside this corpus's background band where no hyperplane scheme
    // is selective (SparkEntry scaladoc) — report overall recall as
    // informational, contract the high-similarity band
    val exactEmbAll = pairSet(Similarity.cosinePairsExact(emb,
      col("vec_id"), col("embedding"), threshold = 0.45))
    val gotEmb = pairSet(Similarity.cosinePairs(emb, col("vec_id"),
      col("embedding"), threshold = 0.45, planes = 8, tables = 16))
    out += Row("dedup_embed_pairs", "pair_recall",
      recall(exactEmbAll, gotEmb), None, None, exactEmbAll.size,
      "informational: cos>=0.45 is inside the corpus background band (S-curve bound); " +
      "the planted row below carries the near-dup contract")

    // the funnel's actual contract — NEAR-DUPLICATES — measured on
    // planted pairs (this corpus has essentially no natural cos>=0.8
    // pairs to measure against): each of 200 real vectors gets an
    // md5-deterministic +-50%-per-dim rescaled twin (exact cos ~0.89,
    // squarely in the hyperplane scheme's selective band)
    val planted = emb.filter(col("vec_id") < 200).select(
      (col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        x * (lit(1.0) + lit(0.5) *
          when(pmod(xxhash64(col("vec_id"), i), lit(2)) === 0, lit(-1.0))
            .otherwise(lit(1.0))))
        .cast("array<float>").as("embedding"),
      col("label"))
    val plantedTruth = pairSet(emb.filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding").as("v_a"))
      .join(planted.select((col("vec_id") - 100000L).as("vec_id"),
        col("embedding").as("v_b")), Seq("vec_id"))
      .select(col("vec_id").as("id_a"),
        (col("vec_id") + 100000L).as("id_b"),
        Similarity.cosine(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= 0.8))
    val gotPlanted = pairSet(Similarity.cosinePairs(
      emb.unionByName(planted), col("vec_id"), col("embedding"),
      threshold = 0.8, planes = 8, tables = 16))
    out += Row("dedup_embed_pairs_planted", "pair_recall",
      recall(plantedTruth, gotPlanted), Some(0.85), None,
      plantedTruth.size,
      "planted near-dup twins at exact cos~0.89, funnel at threshold 0.8 " +
      "(registered planes=8/tables=16) — the DedupSpec contract on real corpus vectors")

    // sparse-cosine df-cap recall trade: capped vs uncapped (exact) on
    // the same tf-idf table — quantifies what the documented stopword
    // drop actually costs
    val tfidf = TextOps.hashedTfIdf(sample, col("text"), col("doc_id"))
      .persist()
    val exactSparse = pairSet(Similarity.sparseCosinePairs(tfidf,
      threshold = 0.85, dfCap = Int.MaxValue))
    out += Row("text_sparse_cosine_dfcap", "pair_recall",
      recall(exactSparse, pairSet(Similarity.sparseCosinePairs(tfidf,
        threshold = 0.85, dfCap = 2000))),
      Some(0.90), None, exactSparse.size,
      "dfCap=2000 vs uncapped Bayardo on doc_id<2000 — cost of the stopword-posting drop")
    tfidf.unpersist()

    // ------------- media/audio fingerprint pair recall (r8 verdict #7) --
    // phash MIH blocking is pigeonhole-exact like simhash: candidate
    // recall floor is 1.0 against brute-force hamming on the SAME
    // fixture the media_phash_pairs registration plants (re-encoded
    // every-10th payloads)
    val mediaS = Multimodal.asMediaTable(sample)
    val mediaAll = mediaS.unionByName(SparkEntry.reencodedMedia(mediaS))
    val mfps = mediaAll.select(col("doc_id"),
      Multimodal.phash64(col("media")).as("fp")).persist()
    val exactPhash = pairSet(
      mfps.select(col("doc_id").as("id_a"), col("fp").as("f_a"))
        .crossJoin(mfps.select(col("doc_id").as("id_b"), col("fp").as("f_b")))
        .filter(col("id_a") < col("id_b"))
        .filter(bit_count(expr("f_a ^ f_b")) <= 3)
        .select("id_a", "id_b"))
    out += Row("media_phash_pairs", "pair_recall",
      recall(exactPhash, pairSet(Multimodal.phashPairs(mediaAll,
        col("doc_id"), col("media"), maxHamming = 3))),
      Some(1.0), None, exactPhash.size,
      "vs brute-force phash hamming<=3 on doc_id<2000 + re-encodes — MIH blocking is exact")
    mfps.unpersist()

    // audio fingerprints (63-bit energy-delta profiles over the WAV
    // mixdown): same exact-blocking contract, fixture = the
    // audio_dedup_pairs registration's channel-swapped re-encodes
    val wavMk = udf((id: Long, txt: String) => Multimodal.syntheticWav(id, txt))
    val wavSwap = udf((id: Long) => Multimodal.syntheticWavSwapped(id))
    val wavMedia = sample
      .select(col("doc_id"), wavMk(col("doc_id"), col("text")).as("media"))
    val wavSwapped = sample
      .filter(pmod(col("doc_id"), lit(10)) === 1 &&
        pmod(col("doc_id"), lit(7)) =!= 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        wavSwap(col("doc_id")).as("media"))
    val afps = Multimodal.audioFingerprint(
      Multimodal.decodeAudioMixStage(wavMedia.unionByName(wavSwapped)))
      .persist()
    val exactAudio = pairSet(
      afps.select(col("doc_id").as("id_a"), col("fp").as("f_a"))
        .crossJoin(afps.select(col("doc_id").as("id_b"), col("fp").as("f_b")))
        .filter(col("id_a") < col("id_b"))
        .filter(bit_count(expr("f_a ^ f_b")) <= 3)
        .select("id_a", "id_b"))
    out += Row("audio_dedup_pairs", "pair_recall",
      recall(exactAudio, pairSet(Multimodal.audioFingerprintPairs(
        wavMedia.unionByName(wavSwapped), maxHamming = 3))),
      Some(1.0), None, exactAudio.size,
      "vs brute-force audio-fp hamming<=3 on doc_id<2000 + channel swaps — blocking is exact")
    afps.unpersist()

    // ------------- indexed-path recall (persisted-store read paths) ----
    // the *_indexed registrations were rows-only until r10; same
    // truths as the inline funnels, corpus split store/increment like
    // the registrations. Each against-index path returns
    // increment-vs-store plus within-increment pairs, so truth = the
    // exact pairs with at least one endpoint in the increment.
    val idxRoot = java.nio.file.Files
      .createTempDirectory("graft_metrics_idx").toString
    def touching(truth: Set[(Long, Long)],
        isInc: Long => Boolean): Set[(Long, Long)] =
      truth.filter { case (p, q) => isInc(p) || isInc(q) }

    val mhStore = s"$idxRoot/minhash"
    Dedup.buildMinhashIndex(sample.filter(col("doc_id") >= 50), col("text"),
      col("doc_id"), mhStore, shingleK = 2, numHashes = 16, bands = 8)
    val mhTruth = touching(exactMinhash, _ < 50)
    out += Row("dedup_minhash_indexed", "pair_recall",
      recall(mhTruth, pairSet(Dedup.nearDupAgainstIndex(spark, mhStore,
        sample.filter(col("doc_id") < 50), col("text"), col("doc_id"),
        jaccardThreshold = 0.3))),
      Some(0.90), None, mhTruth.size,
      "indexed read path vs exact 2-shingle Jaccard>=0.3 pairs touching the id<50 increment")

    val ctStore = s"$idxRoot/contain"
    Dedup.buildContainmentIndex(sample.filter(col("doc_id") >= 50),
      col("text"), col("doc_id"), ctStore, k = 8, w = 24)
    val ctTruth = touching(exactContain, _ < 50)
    out += Row("dedup_contain_indexed", "pair_recall",
      recall(ctTruth, pairSet(Dedup.containmentAgainstIndex(spark, ctStore,
        sample.filter(col("doc_id") < 50), col("text"), col("doc_id"),
        threshold = 0.5, minShared = 1))),
      Some(1.0), None, ctTruth.size,
      "indexed read path vs the winnowing-guarantee truth touching the id<50 " +
      "increment, minShared=1/no cap — the theorem holds through the store")

    val phStore = s"$idxRoot/phash"
    Multimodal.buildPhashIndex(mediaS, col("doc_id"), col("media"), phStore)
    val phTruth = touching(exactPhash, _ >= 1000000L)
    out += Row("media_phash_indexed", "pair_recall",
      recall(phTruth, pairSet(Multimodal.phashAgainstIndex(spark, phStore,
        SparkEntry.reencodedMedia(mediaS), col("doc_id"), col("media"),
        maxHamming = 3))),
      Some(1.0), None, phTruth.size,
      "indexed read path vs brute phash hamming<=3 pairs touching the re-encoded increment — MIH exact")

    val auStore = s"$idxRoot/audiofp"
    Multimodal.buildAudioFpIndex(wavMedia, auStore)
    val auTruth = touching(exactAudio, _ >= 1000000L)
    out += Row("audio_dedup_indexed", "pair_recall",
      recall(auTruth, pairSet(Multimodal.audioFpAgainstIndex(spark, auStore,
        wavSwapped, maxHamming = 3))),
      Some(1.0), None, auTruth.size,
      "indexed read path vs brute audio-fp hamming<=3 pairs touching the channel-swap increment — blocking exact")

    // char-n-gram indexed funnel: same signature store the
    // dedup_ngram_indexed registration builds (chargram mode, 128x16),
    // truth = the exact char-3-gram pairs touching the id<50 increment;
    // floor at the inline funnel's level (0.90)
    val ngStore = s"$idxRoot/ngramidx"
    Dedup.buildMinhashIndex(sample.filter(col("doc_id") >= 50), col("text"),
      col("doc_id"), ngStore, shingleK = 3, numHashes = 128, bands = 16,
      mode = "chargram")
    val ngTruth = touching(exactNgram, _ < 50)
    out += Row("dedup_ngram_indexed", "pair_recall",
      recall(ngTruth, pairSet(Dedup.nearDupAgainstIndex(spark, ngStore,
        sample.filter(col("doc_id") < 50), col("text"), col("doc_id"),
        jaccardThreshold = 0.8))),
      Some(0.90), None, ngTruth.size,
      "indexed read path vs exact char-3-gram Jaccard>=0.8 pairs touching the id<50 increment")

    // embedding-cosine indexed funnel, measured on the SAME planted
    // near-dup contract as dedup_embed_pairs_planted: the real vectors
    // are the store, the md5-rescaled twins are the increment (every
    // truth pair touches the increment by construction). The registered
    // 0.45-threshold read sits in the corpus background band (S-curve
    // bound, like the inline funnel) so the contract row is the planted
    // one; floor = the inline planted floor (0.85).
    val ceStore = s"$idxRoot/cosidx"
    Similarity.buildCosineIndex(emb, col("vec_id"), col("embedding"),
      ceStore, planes = 8, tables = 16)
    out += Row("dedup_embed_indexed", "pair_recall",
      recall(plantedTruth, pairSet(Similarity.cosinePairsAgainstIndex(spark,
        ceStore, planted, col("vec_id"), col("embedding"), threshold = 0.8))),
      Some(0.85), None, plantedTruth.size,
      "indexed read path, planted near-dup twins (exact cos~0.89) as increment vs real-vector store, " +
      "threshold 0.8 planes=8 tables=16 — the inline planted contract through the store")

    // IVF indexed read path: same build/probe params as the
    // ann_ivf_indexed registration (nlist=16, nprobe=6), recall@10 vs
    // the brute truth on the 50 metric queries; floor = inline IVF's
    val ivfStore = s"$idxRoot/ivf"
    Similarity.buildIvfIndex(emb, ivfStore, nlist = 16)
    annRow("ann_ivf_indexed", 0.70,
      Similarity.ivfTopKIndexed(spark, ivfStore, queries, k = 10, nprobe = 6),
      "persisted IVF index (nlist=16 nprobe=6, ann_ivf_indexed params) — probed-partition read path")

    // PQ indexed read path: pqTopKStored is ADC-only (no refine), so
    // its floor is the ADC floor (0.35, the ann_pq_adc row), not the
    // refined inline registration's
    val pqStore = s"$idxRoot/pqidx"
    Similarity.buildPqIndex(emb, pqStore)
    annRow("ann_pq_indexed", 0.35,
      Similarity.pqTopKStored(spark, pqStore, queries, k = 10),
      "persisted PQ code table (m=16 ks=16, ann_pq_indexed params) — ADC-only read path, floor = ADC floor")

    // ------------- PCA / whitening contracts (embed_pca_whiten) -------
    // the eigenbasis is engine-local (rows-only registration), so its
    // numeric contracts carry floors here: V Vᵀ = I for the fitted
    // components, and the whitened corpus' own covariance = identity
    val pcaM = Pca.fit(emb, col("embedding"), dims = 64, k = 16)
    val orthErr = (for (r1 <- 0 until 16; r2 <- 0 until 16) yield {
      val dot = (0 until 64)
        .map(c => pcaM.components(r1 * 64 + c) * pcaM.components(r2 * 64 + c)).sum
      math.abs(dot - (if (r1 == r2) 1.0 else 0.0))
    }).max
    out += Row("pca_orthonormality", "max_abs_error", orthErr,
      None, Some(1e-9), 16 * 16,
      "max |V Vt - I| over the fitted 16x64 components (k=16 of d=64, full-corpus fit)")
    // cov_accum folds the double-typed whitened arrays directly (no
    // float round-trip) since the r13 ARRAY<DOUBLE> support
    val whitened = Pca.whiten(emb, col("vec_id"), col("embedding"), pcaM)
      .select(col("vec_id"), col("whitened").as("e"))
    val idErr = Pca.covariance(whitened, col("e"), 16)
      .select(abs(col("cov") -
        when(col("i") === col("j"), 1.0).otherwise(0.0)))
      .collect().map(_.getDouble(0)).max
    out += Row("pca_whiten_identity", "max_abs_error", idErr,
      None, Some(0.01), 16 * 17 / 2,
      "max |cov(whitened corpus) - I| entry, eps=1e-6 — the whitening contract end to end")
    // the CONTRACTED PCA-16 ANN read path (the ann_pca16_indexed
    // registration): fit from the persisted moment store, project,
    // brute cosine top-k in the reduced space, recall vs the 64-dim
    // brute truth. The floor is spectrum-bound by design — this
    // near-isotropic corpus puts only ~1/4 of its variance in the top
    // 16 of 64 directions, so 16-dim cosine order recalls ~0.2 of the
    // full-dim truth (the same honest-quantization-bound framing as
    // ann_pq_adc); the contract is that the stored-basis read path
    // never degrades below it
    val pcaStore = s"$idxRoot/pcamom"
    Pca.buildMomentStore(emb, col("embedding"), dims = 64, pcaStore)
    val pcaStored = Pca.fitFromStore(spark, pcaStore, dims = 64, k = 16)
    val projected = Pca.project(emb, col("vec_id"), col("embedding"), pcaStored)
      .select(col("vec_id"), col("projected").cast("array<float>").as("embedding"))
    out += Row("ann_pca16_indexed", "recall_at_10",
      recall(brute, topSet(Similarity.bruteForceTopK(projected,
        projected.filter(col("vec_id") < 50), k = 10))),
      Some(0.15), None, brute.size,
      "brute cosine top-10 in the stored-eigenbasis PCA-16 projection (ann_pca16_indexed params) vs the 64-dim brute truth — spectrum-bound by design on this corpus")

    // ---------------- compression-signal spec bounds --------------------
    // text_compression_signal's deflate bytes are the JVM zlib's
    // (engine-local), so its anchor is a pair of SPEC constants
    // measured through the registered kernel path
    // (TextOps.compressionColumns — the exact columns the query
    // emits): DEFLATE encodes repeats >= its 258-byte max match as
    // ~3-byte length/distance tokens, so long period-2 repetition
    // MUST land far under the 0.05 ceiling; and no lossless code
    // beats source entropy, so 4-bit-per-char hex text CANNOT
    // compress below ~0.5 (floor 0.45 leaves finite-block margin) —
    // a kernel returning garbage lengths fails one bound or the other
    {
      import spark.implicits._
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = (0 until 320).map { i =>
        md.reset()
        md.digest(s"graft-entropy-$i".getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString
      }.mkString
      val fx = Seq((1L, "ab" * 5000), (2L, hex)).toDF("doc_id", "text")
      val cr = fx.select((col("doc_id") +:
          TextOps.compressionColumns(col("text"))): _*)
        .select(col("doc_id"), col("compression_ratio"), col("raw_len"))
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
      out += Row("text_compression_signal_boilerplate", "ratio",
        cr(1L)._1, None, Some(0.05), cr(1L)._2,
        "deflate ratio of 10000 bytes of period-2 repetition through the registered kernel; spec ceiling: 258-byte max-match tokens cost ~3 bytes each")
      out += Row("text_compression_signal_entropy", "ratio",
        cr(2L)._1, Some(0.45), None, cr(2L)._2,
        "deflate ratio of 10240 chars of md5-chain hex through the registered kernel; spec floor: a 4-bit/char source cannot compress below ~0.5")
    }

    // ---------------- sketch error bounds ------------------------------
    // count-min: est >= true always; overestimate <= e/width * N w.p.
    // 1 - e^-depth per key
    val toks = docs.select(explode(Dedup.tokens(col("text"))).as("token"))
    val sketch = Sketch.countMinFit(toks, col("token"), depth = 4,
      width = 2048L, seed = 2L)
    val top = toks.groupBy("token").agg(count(lit(1)).as("n_true"))
      .orderBy(col("n_true").desc, col("token")).limit(50)
    val est = Sketch.countMinEstimate(top, col("token"), sketch, depth = 4,
      width = 2048L, seed = 2L)
      .select(col("n_true").cast("long"), col("est").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nTotal = toks.count()
    val cmsBound = math.E / 2048.0 * nTotal
    val under = est.count { case (t, e) => e < t }
    out += Row("cms_token_freq_overestimate", "max_abs_error",
      est.map { case (t, e) => (e - t).toDouble }.max,
      None, Some(cmsBound), est.length,
      f"top-50 tokens, depth=4 width=2048, N=$nTotal; bound e/w*N=$cmsBound%.1f; " +
      s"underestimates=$under (must be 0)")
    require(under == 0, s"count-min underestimated $under keys — impossible by construction")

    // HLL: per-source distinct tokens vs exact; Spark default rsd=0.05
    val bySource = docs.select(col("source"),
      explode(Dedup.tokens(col("text"))).as("token"))
    val hllEst = Sketch.hllEstimate(Sketch.hllFit(bySource, col("token"),
      Seq("source")), Seq("source"))
    val hllTrue = bySource.groupBy("source")
      .agg(countDistinct(col("token")).as("true_n"))
    val hllErr = hllEst.join(hllTrue, Seq("source"))
      .select(abs(col("n_distinct") - col("true_n")) / col("true_n"))
      .collect().map(_.getDouble(0))
    out += Row("hll_tokens_by_source", "max_rel_error",
      if (hllErr.isEmpty) 0.0 else hllErr.max, None, Some(0.15),
      hllErr.length, "per-source distinct-token estimate vs exact; ceiling 3x default rsd 0.05")

    // ts_set_approx_hour: the approximate set-cardinality read
    // (approx_count_distinct per (name, hour) bucket, default rsd
    // 0.05) vs the exact per-bucket distinct of ts_set_card_hour, on
    // the SAME event log the registration folds — ceiling 3x rsd,
    // the hll_tokens_by_source pattern
    val setLog = SparkEntry
      .eventLog(spark, dir, graft.model.SetT, SparkEntry.hourFine)
      .log.filter(col("interval") === "hour")
    // bucket cardinalities here are tiny (<= ~50 distinct values per
    // (name, hour)), squarely in HLL++'s linear-counting regime where
    // the estimate is integer-quantized — allow one count of slack
    // before the 3x-rsd relative ceiling applies (an off-by-one at
    // exact=2 is 50% "rel error" but zero evidence of sketch damage;
    // an off-by-TWO fails the row)
    val setErr = setLog.groupBy("name", "i_time")
      .agg(approx_count_distinct(col("value")).as("approx_card"),
        countDistinct(col("value")).as("exact_card"))
      .select(greatest(lit(0.0),
        (abs(col("approx_card") - col("exact_card")) - lit(1.0)) /
          col("exact_card")))
      .collect().map(_.getDouble(0))
    out += Row("ts_set_approx_hour", "max_rel_error",
      if (setErr.isEmpty) 0.0 else setErr.max, None, Some(0.15),
      setErr.length,
      "per-(name,hour) approx_count_distinct vs exact set cardinality on the event log, " +
      "rel error after an off-by-one allowance (linear-counting regime, buckets <= ~50 distinct); " +
      "ceiling 3x default rsd 0.05")

    // Bloom: measured FPR on keys guaranteed absent vs the analytic rate
    val mBits = 1L << 16
    val kHashes = 4
    val keys = docs.select(col("doc_id"))
    val nKeys = keys.count()
    val bloom = Bloom.fit(keys, col("doc_id"), mBits = mBits, k = kHashes,
      seed = 1L)
    // Derive the probe range from max(doc_id)+1 so the keys are absent
    // BY CONSTRUCTION at any scale factor — a fixed 1e6 base would
    // collide with real ids on larger corpora and inflate the FPR.
    val probeBase = keys.agg(max(col("doc_id"))).collect()(0)
      .getLong(0) + 1L
    val absent = spark.range(probeBase, probeBase + 20000L).toDF("doc_id")
    val fp = Bloom.mightContain(absent, col("doc_id"), bloom, mBits = mBits,
      k = kHashes, seed = 1L).count()
    val analytic = Bloom.fpRate(nKeys, mBits, kHashes)
    out += Row("bloom_fp_rate", "fp_rate", fp.toDouble / 20000.0,
      None, Some(math.max(2.0 * analytic, 0.002)), 20000,
      f"n=$nKeys m=$mBits k=$kHashes; analytic FPR $analytic%.5f; " +
      "ceiling max(2x analytic, 0.002) on 20k absent probes")

    // char-3-gram NB language ID: held-out accuracy on the language-
    // marked fixture (the labeled corpus text is language-independent
    // soup, so the fixture appends per-lang orthography — the model
    // must learn it through ~600 chars of shared-vocabulary noise per
    // doc). The engine-exactness of the same pipeline is hash-oracled
    // as langid_nb_eval; this row carries the model-quality contract.
    val marked = graft.SparkEntry.langMarkedDocs(docs)
    val lgGrams = (t: org.apache.spark.sql.Column) =>
      graft.ops.Classify.charGrams(t, 3)
    val (lgW, lgM) = graft.ops.Classify.fitNaiveBayesMulti(
      marked.filter(col("doc_id") % 5 =!= 0), col("mtext"), col("lang"),
      tok = lgGrams)
    val lgPred = graft.ops.Classify.scoreNaiveBayesMulti(
      marked.filter(col("doc_id") % 5 === 0), col("mtext"), col("doc_id"),
      lgW, lgM, tok = lgGrams)
      .join(marked.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val lgAgg = lgPred.agg(count(lit(1)).as("n"),
      sum(when(col("pred") === col("lang"), 1L).otherwise(0L)).as("ok"))
      .collect()(0)
    val lgN = lgAgg.getLong(0)
    out += Row("langid_nb_eval", "accuracy",
      if (lgN == 0) 0.0 else lgAgg.getLong(1).toDouble / lgN,
      Some(0.95), None, lgN.toInt,
      "held-out (doc_id%5==0) char-3-gram NB language ID on the lang-marked fixture")

    // approx_percentile (GK-family): max rank error vs 1/accuracy
    val acc = 10000
    val qs = Seq(0.25, 0.5, 0.75, 0.9)
    val approxVals = events.agg(
      percentile_approx(col("value"), lit(qs.toArray), lit(acc)).as("v"))
      .collect()(0).getSeq[Double](0)
    val nEvents = events.count()
    val rankErrs = qs.zip(approxVals).map { case (q, v) =>
      val lo = events.filter(col("value") < v).count().toDouble / nEvents
      val hi = events.filter(col("value") <= v).count().toDouble / nEvents
      math.max(0.0, math.max(q - hi, lo - q))
    }
    out += Row("gk_percentile_rank_error", "max_rank_error", rankErrs.max,
      None, Some(1.0 / acc + 1.0 / nEvents), qs.length,
      s"approx_percentile(value, [0.25,0.5,0.75,0.9], $acc) on events; " +
      "rank error vs empirical CDF")

    out.toSeq
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_METRICS_OUT",
      "/root/repo/METRICS.json")
    val spark = Harness.session()
    val rows = compute(spark, dir)
    rows.foreach(r => System.err.println(
      f"[metrics] ${r.name}%-32s ${r.kind}%-14s ${r.value}%10.4f  pass=${r.pass}"))
    val json = Harness.json(JObject(
      "harness" -> JString("graft.Metrics"), "sf_dir" -> JString(dir),
      "all_pass" -> JBool(rows.forall(_.pass)),
      "metrics" -> JArray(rows.map(_.json).toList)))
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
