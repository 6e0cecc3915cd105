package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor search over an embedding column
  * (ARRAY<FLOAT>).
  *
  * Scale design: queries are always the broadcast side; the corpus is
  * streamed once. Top-k never sorts globally — it reduces via a
  * two-stage partial top-k (per shuffle partition, then merged), the
  * same shape as TakeOrdered but expressed as aggregations so it
  * composes with the rest of a plan.
  */
object Similarity {

  /** Cosine similarity of two ARRAY<FLOAT|DOUBLE> columns, computed in
    * double — a custom codegen expression
    * ([[graft.functions.GraftFunctions.cosineSim]]) accumulating in index order
    * (bit-identical to the higher-order formulation it replaced). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosineSim(a, b)

  /** Brute-force cosine top-k: every query (small, broadcast) against
    * every corpus vector, reduced to k per query without a global sort.
    *
    * Output: (query_id, vec_id, score) — `score` rounded to `roundTo`
    * decimals with (score desc, vec_id asc) tie-breaking so results are
    * engine-independent deterministic.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      roundTo: Int = 4): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    val scored = corpus.select(col("vec_id"), col("embedding"))
      .join(q) // broadcast nested loop: one corpus pass
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("q_emb"), col("embedding")), roundTo).as("score"))
    topKPerKey(scored, col("query_id"), col("score"), col("vec_id"), k)
  }

  /** Distributed top-k per key with an O(k) buffer at every stage: the
    * [[graft.functions.TopKByScore]] bounded-heap aggregate. Partial
    * heaps are built map-side (ObjectHashAggregate partial mode), the
    * shuffle carries one k-sized buffer per (partition, key), and the
    * final merge folds heaps — no stage ever materializes a group's
    * scored rows, no global sort. Ties break (score desc, id asc),
    * identical to the sort-by-struct(-score, id) formulation. */
  def topKPerKey(scored: DataFrame, key: Column, score: Column,
      id: Column, k: Int): DataFrame =
    scored
      .groupBy(key.as("query_id"))
      .agg(graft.functions.GraftFunctions.topK(score, id, k).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.vec_id").as("vec_id"), col("e.score").as("score"))

  /** Random-hyperplane LSH buckets for all hash tables at once — the
    * [[graft.functions.GraftFunctions.lshBuckets]] codegen expression (one fused pass
    * per vector; deterministic splitmix64 plane weights, no RNG
    * state). Output: ARRAY<BIGINT>, one bucket per table. */
  def lshBuckets(emb: Column, planes: Int, dims: Int, tables: Int): Column =
    graft.functions.GraftFunctions.lshBuckets(emb, planes, dims, tables)

  /** Embedding-cosine near-duplicate pairs, hyperplane-LSH blocked and
    * exact-verified — the vector-space member of the dedup family.
    *
    * Candidates come from `tables` independent hyperplane tables
    * (P(candidate) = 1 − (1 − p^planes)^tables with p = 1 − θ/π);
    * the defaults target realistic near-dup regimes (cosine ≥ 0.9 →
    * p ≈ 0.86, recall ≈ 0.94 with 8×8) — for thresholds near a
    * corpus's background similarity no hyperplane scheme is selective,
    * same physics as the text LSH band knee. Pairs dedupe across
    * tables before the exact-cosine verify join.
    *
    * `bucketCap` is the same skew insurance every text LSH funnel
    * carries ([[Dedup.dropOversizedBuckets]]): with `planes` p there
    * are only 2^p buckets per table, so a correlated embedding region
    * (or a run of near-identical vectors) concentrates B vectors in one
    * bucket and would mint B² candidate rows on a single shuffle key.
    * Buckets over the cap are dropped whole — recall on pairs inside
    * them falls on the other `tables − 1` independent tables.
    *
    * `planes` must GROW with the corpus: expected bucket occupancy is
    * N/2^p and candidate volume scales with its square, so a p tuned
    * at 10^4 vectors is quadratic garbage at 10^9. Pass `planes <= 0`
    * to derive p = ceil(log2(N / 64)) (expected occupancy ~64, one
    * count job; clamped to [4, 24]) — each extra plane costs recall
    * per table (p(match) = (1 − θ/π)^p), so buy it back with `tables`
    * when using high auto-p at scale.
    *
    * [[cosineFunnel]] over an empty store: the result is pinned and
    * the vector cache released, like every pair funnel. */
  def cosinePairs(emb: DataFrame, id: Column, vec: Column, threshold: Double = 0.9,
      planes: Int = 8, dims: Int = 64, tables: Int = 8, roundTo: Int = 4,
      bucketCap: Int = 100000): DataFrame = {
    val base = vectors(emb, id, vec)
    cosineFunnel(base, Dedup.noStore(base), resolvePlanes(base, planes), dims, tables,
      threshold, roundTo, bucketCap)
  }

  /** The per-vector (vec_id, v) table of the cosine family — the one
    * builder behind the funnel, [[buildCosineIndex]] and
    * [[appendToCosineIndex]]. */
  private def vectors(emb: DataFrame, id: Column, vec: Column): DataFrame =
    emb.select(id.as("vec_id"), vec.as("v"))

  /** `planes`, or for `planes <= 0` the auto count ceil(log2(N / 64))
    * clamped to [4, 24] over the corpus `base` (one count job). */
  private def resolvePlanes(base: DataFrame, planes: Int): Int =
    if (planes > 0) planes
    else {
      val n = math.max(1L, base.count())
      math.min(24, math.max(4, (64 - java.lang.Long.numberOfLeadingZeros(
        math.max(1L, n / 64 - 1)))))
    }

  /** Hyperplane-LSH cosine pairs between the `fresh` and `stored`
    * (vec_id, v) tables — the one funnel behind [[cosinePairs]] (an
    * empty store) and [[cosinePairsAgainstIndex]]: the fresh vectors
    * spread by id and persist (they feed the band explosion AND both
    * sides of the verify lookup — unpersisted they would recompute
    * ~4-5×), fresh ∪ stored buckets in every table, the bucket cap
    * applies to the union, candidates form under the
    * [[Dedup.freshPairs]] rule and dedupe across tables, and the exact
    * cosine verify joins against fresh ∪ stored; the verified pairs
    * are pinned and the fresh cache released. */
  private def cosineFunnel(fresh: DataFrame, stored: DataFrame, planes: Int,
      dims: Int, tables: Int, threshold: Double, roundTo: Int,
      bucketCap: Int): DataFrame = {
    val newBase = fresh.repartition(col("vec_id")).persist()
    val all = Dedup.tagFresh(newBase, stored)
    val banded = all.select(col("vec_id"), col("is_new"),
      posexplode(lshBuckets(col("v"), planes, dims, tables)).as(Seq("t", "b")))
    val capped = Dedup.dropOversizedBuckets(banded, Seq("t", "b"), bucketCap)
    val cands = Dedup.freshPairs(capped, capped, Seq("t", "b"), "vec_id").distinct()
    val verified = cands
      .join(all.select(col("vec_id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(all.select(col("vec_id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .select(Dedup.canonicalIds :+
        round(cosine(col("v_a"), col("v_b")), roundTo).as("cos"): _*)
      .filter(col("cos") >= threshold)
    Layout.pin(verified, newBase)
  }

  /** Persist the vector corpus for incremental cosine near-dup
    * ([[cosinePairsAgainstIndex]]): `path/docs` = (vec_id, v),
    * `path/meta` = the resolved (planes, dims, tables) — written LAST
    * as the commit marker, and pinning the hyperplane configuration so
    * increments always bucket in the SAME tables as the stored corpus
    * (the plane weights themselves are deterministic splitmix64 from
    * the config, so buckets recompute bit-identically from stored
    * vectors — no bucket table need be stored). Auto plane count
    * (`planes = 0`) resolves against the BUILD corpus size and is
    * frozen in meta: an occupancy chosen once must not drift as
    * increments arrive. */
  def buildCosineIndex(emb: DataFrame, id: Column, vec: Column,
      path: String, planes: Int = 8, dims: Int = 64,
      tables: Int = 8): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val base = vectors(emb, id, vec)
    val p = resolvePlanes(base, planes)
    base.write.mode("overwrite").parquet(s"$path/docs")
    Seq((p, dims, tables)).toDF("planes", "dims", "tables")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Append an increment's vectors (idempotent on vec_id). */
  def appendToCosineIndex(spark: SparkSession, indexPath: String,
      emb: DataFrame, id: Column, vec: Column): Unit =
    Layout.appendAbsent(vectors(emb, id, vec),
      spark.read.parquet(s"$indexPath/docs"), s"$indexPath/docs", "vec_id")

  /** Cosine near-dup pairs between an increment and a stored vector
    * index (plus pairs within the increment): [[cosineFunnel]] with the
    * stored vectors re-bucketed under the meta-pinned hyperplanes (a
    * cheap fused kernel pass over 4·dims bytes/row), so [[cosinePairs]]
    * is exactly this query against an empty store; stored-stored pairs
    * never form. Output (id_a, id_b, cos), id_a < id_b; ids unique
    * across store and increment. */
  def cosinePairsAgainstIndex(spark: SparkSession, indexPath: String,
      emb: DataFrame, id: Column, vec: Column, threshold: Double = 0.9,
      roundTo: Int = 4, bucketCap: Int = 100000): DataFrame = {
    val meta = spark.read.parquet(s"$indexPath/meta").head()
    cosineFunnel(vectors(emb, id, vec), spark.read.parquet(s"$indexPath/docs"),
      meta.getAs[Int]("planes"), meta.getAs[Int]("dims"), meta.getAs[Int]("tables"),
      threshold, roundTo, bucketCap)
  }

  /** The online vector-dedup admission gate, one micro-batch at a
    * time (the body of a [[graft.streaming.StreamingIngest.foreachBatch]]):
    * verdict every batch vector against the stored corpus AND the
    * batch itself ([[cosinePairsAgainstIndex]]), admit only the fresh
    * ones to the index, and append one verdict row
    * (vec_id, dup_of, is_dup) per vector to `outPath`.
    *
    * Duplicate rule (first-wins, the vector twin of the
    * [[Curate.appendCuratedAgainst]] ledger): a batch vector is a
    * duplicate iff it has a pair partner that is already STORED, or a
    * batch partner with a SMALLER id —
    * so exactly one member of an all-new duplicate group (its
    * smallest id) is admitted. `dup_of` is the smallest such partner;
    * over a near-dup CHAIN it may itself be a duplicate (the chain
    * collapses transitively toward the minimum across batches — an
    * online gate keeps one representative per group in the index, it
    * does not re-cluster history).
    *
    * Replay-idempotent end to end: verdicts anti-join the sink on
    * vec_id, index admission anti-joins the store
    * ([[appendToCosineIndex]]) — a replayed batch changes neither. */
  def appendGatedToCosineIndex(spark: SparkSession, indexPath: String,
      outPath: String, batch: DataFrame, id: Column, vec: Column,
      threshold: Double = 0.9, roundTo: Int = 4,
      bucketCap: Int = 100000): Unit = {
    val base = batch.select(id.as("vec_id"), vec.as("v"))
    val pairs = cosinePairsAgainstIndex(spark, indexPath, base,
      col("vec_id"), col("v"), threshold, roundTo, bucketCap)
    val storedIds = spark.read.parquet(s"$indexPath/docs")
      .select(col("vec_id").as("y"), lit(1L).as("__stored"))
    val newIds = base.select(col("vec_id").as("x"))
    val edges = pairs.select(col("id_a").as("x"), col("id_b").as("y"))
      .unionByName(pairs.select(col("id_b").as("x"), col("id_a").as("y")))
      .join(newIds, Seq("x"))
    val dupOf = edges.join(storedIds, Seq("y"), "left")
      .filter(col("__stored").isNotNull || col("y") < col("x"))
      .groupBy("x").agg(min("y").as("dup_of"))
    val verdicts = newIds.select(col("x").as("vec_id"))
      .join(dupOf.select(col("x").as("vec_id"), col("dup_of")),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("dup_of"),
        col("dup_of").isNotNull.cast(LongType).as("is_dup"))
    Layout.appendAbsent(verdicts, Layout.readIfExists(spark, outPath)(verdicts),
      outPath, "vec_id")
    val fresh = base.join(dupOf.select(col("x").as("vec_id")),
      Seq("vec_id"), "left_anti")
    appendToCosineIndex(spark, indexPath, fresh, col("vec_id"), col("v"))
  }

  /** Exact all-pairs cosine over a BOUNDED sample — oracle twin of
    * [[cosinePairs]] (quadratic by construction). */
  def cosinePairsExact(emb: DataFrame, id: Column, vec: Column,
      threshold: Double, roundTo: Int = 4): DataFrame = {
    // bounded sample: 8 partitions keeps the cartesian at 64 partition
    // pairs instead of 32²=1024 near-empty tasks
    val base = emb.select(id.as("vec_id"), vec.as("v")).repartition(8, col("vec_id"))
    val a = base.select(col("vec_id").as("id_a"), col("v").as("v_a"))
    val b = base.select(col("vec_id").as("id_b"), col("v").as("v_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("v_a"), col("v_b")), roundTo).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Per-label embedding centroids: elementwise mean vector per label,
    * emitted as (label, pos, centroid, n) rows — the class-prototype /
    * cluster-summary primitive (label → nearest-centroid classification,
    * per-source embedding drift monitoring, coreset seeding).
    *
    * Shape at scale: posexplode multiplies rows by the dimension, then
    * ONE (label, pos) hash aggregation with map-side partials — no
    * collect, no per-label array materialization. `pos` is 1-based.
    * Accumulation in double; `roundTo` makes the output
    * order-insensitive for cross-engine comparison. */
  def labelCentroids(emb: DataFrame, label: Column, vec: Column,
      roundTo: Int = 6): DataFrame =
    emb.select(label.as("label"), posexplode(vec).as(Seq("pos", "v")))
      .groupBy(col("label"), (col("pos") + 1).as("pos"))
      .agg(round(avg(col("v").cast(DoubleType)), roundTo).as("centroid"),
        count(lit(1)).as("n"))

  /** IVF (inverted-file) ANN: a k-means coarse quantizer partitions the
    * corpus into `nlist` lists; each query probes only its `nprobe`
    * nearest lists. The classic FAISS-style scale path: index build is
    * one k-means fit + one assignment pass over the corpus, and a query
    * batch scores ~nprobe/nlist of the corpus via a key-equality join —
    * never a full scan per query.
    *
    * Division of labor, all public Spark API: MLlib KMeans (Euclidean
    * quantizer — on unit-norm embeddings L2 order ≡ cosine order) for
    * the centroids, driver-side probe selection (queries are the tiny
    * broadcast side by the same contract as [[bruteForceTopK]]; the
    * centroid table is nlist×dims doubles), and the k-bounded
    * [[topKPerKey]] heap aggregate for the final reduce. Recall < 1 by
    * construction — measured against [[bruteForceTopK]] in DedupSpec.
    *
    * The quantizer trains on a BOUNDED deterministic sample
    * ([[quantizerFitSet]], `fitSample` rows): k-means is `maxIter`
    * full passes over its input, so fitting on the corpus itself would
    * make index build a 10×-corpus scan just to place nlist centroids.
    * Standard IVF practice (FAISS trains on ~max(10k, 256·nlist)
    * points) — centroid placement converges long before the sample
    * does; assignment still covers every corpus vector. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nlist: Int = 64,
      nprobe: Int = 8, seed: Long = 42L, maxIter: Int = 10,
      roundTo: Int = 4, fitSample: Int = 262144): DataFrame = {
    val (centersDf, assigned) = fitIvf(corpus, nlist, seed, maxIter, fitSample)
    scoreProbed(assigned, probeLists(centersDf, queries, nprobe), queries, k, roundTo)
  }

  /** KMeans fit + full-corpus assignment — the index-BUILD half of IVF,
    * shared by the inline [[ivfTopK]] and the persisted
    * [[buildIvfIndex]]. Returns (centroid table, assigned corpus). */
  private def fitIvf(corpus: DataFrame, nlist: Int, seed: Long, maxIter: Int,
      fitSample: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    val feats = withFeat(corpus)
    val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("__feat").setPredictionCol("__list")
      .fit(quantizerFitSet(feats, fitSample))
    val spark = corpus.sparkSession
    import spark.implicits._
    val centersDf = model.clusterCenters.toSeq.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray) }
      .toDF("__list", "__centroid")
    val assigned = model.transform(feats)
      .select(col("vec_id"), col("embedding"), col("__list").cast(LongType).as("__list"))
    (centersDf, assigned)
  }

  /** Probe selection: nprobe nearest centroids per query — the
    * centroid table (nlist × dims doubles) broadcast against the query
    * stream, reduced by the bounded top-k heap. Fully distributed:
    * queries are never collected, so the query side only needs to be
    * broadcast-small (same contract as the scoring join), not
    * driver-loop-small. The interpreted zip_with distance runs over
    * queries × nlist rows — index-ordered left fold, so ties and
    * totals match a sequential loop exactly; ties break (distance asc,
    * list asc) via the heap's (score desc, id asc) order on negated
    * distance. Output: (query_id, __list). */
  private def probeLists(centersDf: DataFrame, queries: DataFrame,
      nprobe: Int): DataFrame = {
    val qd = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("__q"))
    val l2sq = F.aggregate(
      zip_with(col("__q"), col("__centroid"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (a, x) => a + x)
    topKPerKey(
      qd.crossJoin(broadcast(centersDf))
        .select(col("query_id"), (-l2sq).as("__negd"), col("__list")),
      col("query_id"), col("__negd"), col("__list"), nprobe)
      .select(col("query_id"), col("vec_id").as("__list"))
  }

  /** Score only the probed lists: key-equality join of the assigned
    * corpus against the (broadcast-small) probe table, then the O(k)
    * heap reduce — ~nprobe/nlist of the corpus scored, never a full
    * scan per query. */
  private def scoreProbed(assigned: DataFrame, probeDf: DataFrame,
      queries: DataFrame, k: Int, roundTo: Int): DataFrame = {
    val scored = assigned.join(broadcast(probeDf), Seq("__list"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("q_emb"), col("embedding")), roundTo).as("score"))
    topKPerKey(scored, col("query_id"), col("score"), col("vec_id"), k)
  }

  /** Persist an IVF index — the write-once-read-many split the inline
    * [[ivfTopK]] conflates: at scale the KMeans fit + full-corpus
    * assignment is a day-scale job run ONCE, while queries run
    * constantly and must touch only their probed lists. Layout:
    *
    *   - `path/centroids` — nlist rows (__list BIGINT,
    *     __centroid ARRAY<DOUBLE>): the coarse quantizer, read whole
    *     (broadcast-small by construction) by every query batch;
    *   - `path/lists` — (vec_id, embedding) PARTITIONED BY __list:
    *     one directory per inverted list, repartitioned by list before
    *     the write so each list is one file. A query's nprobe list
    *     reads are partition-PRUNED directory reads (the same pruning
    *     contract as the Timeseries bucket store) — unprobed lists are
    *     never listed, opened, or scanned.
    *
    * Same seed/fit-set ⇒ the persisted index reproduces [[ivfTopK]]'s
    * centroids exactly (doubles round-trip parquet losslessly), so
    * [[ivfTopKIndexed]] returns the same rows as the inline path. */
  def buildIvfIndex(corpus: DataFrame, path: String, nlist: Int = 64,
      seed: Long = 42L, maxIter: Int = 10, fitSample: Int = 262144,
      quantize: Boolean = false): Unit = {
    val (centersDf, assigned) = fitIvf(corpus, nlist, seed, maxIter, fitSample)
    centersDf.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    listRows(assigned, quantize)
      .repartition(col("__list"))
      .write.mode("overwrite").partitionBy("__list").parquet(s"$path/lists")
  }

  /** `quantize = true` stores int8-quantized lists (the FAISS IVF-SQ8
    * composition): probed-partition reads then also get the 4×+
    * scan-bandwidth win of [[buildQ8Corpus]], scored byte-native. */
  private def listRows(assigned: DataFrame, quantize: Boolean): DataFrame =
    if (quantize)
      assigned.select(col("vec_id"), quantizeQ8(col("embedding")).as("q8"), col("__list"))
    else assigned

  /** Incrementally add vectors to a persisted IVF index: assign each
    * to its nearest STORED centroid (the same distributed probe
    * machinery as queries, nprobe = 1 — no refit, no read of existing
    * lists) and append to the list partitions. The write-once index
    * becomes write-once-append-many, the reference's insert contract
    * applied to ANN state; centroid drift under heavy appends is the
    * standard IVF trade — rebuild when recall decays. Detects and
    * preserves the store's float vs int8 list layout. Not idempotent:
    * a replayed stream batch re-appends its rows (reconcile downstream
    * with exact dedup on vec_id). */
  def appendToIvfIndex(spark: SparkSession, indexPath: String,
      vectors: DataFrame): Unit = {
    val centersDf = spark.read.parquet(s"$indexPath/centroids")
    val quantized = spark.read.parquet(s"$indexPath/lists")
      .columns.contains("q8")
    val assigned = vectors.select(col("vec_id"), col("embedding"))
      .join(
        probeLists(centersDf, vectors, nprobe = 1)
          .select(col("query_id").as("vec_id"), col("__list")),
        Seq("vec_id"))
    listRows(assigned, quantized)
      .repartition(col("__list"))
      .write.mode("append").partitionBy("__list").parquet(s"$indexPath/lists")
  }

  /** Compact a persisted IVF index's list partitions
    * ([[graft.ops.Layout.compactFiles]] over `path/lists` only — the
    * centroid table is a single file by construction and never needs
    * it). Streaming/incremental appends ([[appendToIvfIndex]]) leave
    * one parquet file per (micro-batch × partition); a probed read
    * then opens batch-count files per list, and at ingest rates that
    * is the classic small-file death. Returns compactFiles' tuple
    * (partitions rewritten, files before, files after). Safe against
    * concurrent readers the same way compactFiles is (atomic dir
    * rename swap); run it from the maintenance schedule, like
    * Timeseries store compaction. */
  def compactIvfIndex(spark: SparkSession, indexPath: String,
      targetFileBytes: Long = 128L << 20): (Int, Long, Long) =
    Layout.compactFiles(spark, s"$indexPath/lists", targetFileBytes)

  /** Query a persisted IVF index: read the (tiny) centroid table,
    * select each query's nprobe lists, and scan ONLY those list
    * partitions. The probed list ids are collected to the driver —
    * a set bounded by min(nlist, nprobe × |queries|) longs, the same
    * driver-scale contract as the centroid table itself — so the list
    * scan carries a static partition IN-filter and the unprobed
    * directories are pruned at planning time (PartitionFilters),
    * exactly like a Timeseries bucket-store range read. */
  def ivfTopKIndexed(spark: SparkSession, indexPath: String, queries: DataFrame,
      k: Int, nprobe: Int = 8, roundTo: Int = 4): DataFrame = {
    val centersDf = spark.read.parquet(s"$indexPath/centroids")
    // materialized once: it feeds both the driver-side partition filter
    // and the scoring join (a lazy plan would re-run probe selection)
    val probeDf = probeLists(centersDf, queries, nprobe).transform(Layout.pin(_))
    val probed = probeDf.select("__list").distinct().collect().map(_.getLong(0).toInt)
    // partition values are directory names; Spark infers the partition
    // column as INT, so the pruning literal set must be ints too
    val raw = spark.read.parquet(s"$indexPath/lists")
      .filter(col("__list").isin(probed.map(Int.box): _*))
    if (raw.columns.contains("q8")) {
      // int8-quantized lists (IVF-SQ8): byte-native scoring against
      // quantized queries — same probed-partition pruning, 4×+ fewer
      // scan bytes per probed list
      val lists = raw.select(col("vec_id"), col("q8"),
        col("__list").cast(LongType).as("__list"))
      val scored = lists.join(broadcast(probeDf), Seq("__list"))
        .join(broadcast(queries.select(col("vec_id").as("query_id"),
          quantizeQ8(col("embedding")).as("q8_q"))), Seq("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(graft.functions.GraftFunctions.cosineSimQ8(col("q8_q"), col("q8")),
            roundTo).as("score"))
      topKPerKey(scored, col("query_id"), col("score"), col("vec_id"), k)
    } else {
      val lists = raw.select(col("vec_id"), col("embedding"),
        col("__list").cast(LongType).as("__list"))
      scoreProbed(lists, probeDf, queries, k, roundTo)
    }
  }

  private def withFeat(corpus: DataFrame): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    corpus.select(col("vec_id"), col("embedding"),
      array_to_vector(col("embedding")).as("__feat"))
  }

  /** The bounded, deterministic training set for the IVF quantizer:
    * the `fitSample` rows with the smallest xxhash64(vec_id) — a
    * uniform pseudo-random draw with no RNG state, independent of the
    * corpus's storage order (a plain `limit` would train on whatever
    * prefix the file listing produced). Plans as TakeOrderedAndProject:
    * each partition keeps only its local top-n, so the fit input is
    * O(fitSample) regardless of corpus size. `fitSample <= 0` disables
    * the bound (trains on everything). */
  def quantizerFitSet(corpus: DataFrame, fitSample: Int): DataFrame =
    if (fitSample <= 0) corpus
    else corpus.orderBy(xxhash64(col("vec_id"))).limit(fitSample)

  /** Int8 scalar quantization of an embedding column (FAISS SQ8
    * style): each vector scaled to its own max-abs and rounded to
    * [-127, 127] — ARRAY<TINYINT>, 4× less storage/scan bandwidth
    * than float32. The per-vector scale factor cancels in cosine, so
    * quantized vectors score with the same [[cosine]] expression
    * after a cheap codegen cast — no dequantization pass, no custom
    * kernel. Pure column algebra (codegen'd end to end). */
  /** One-pass codegen kernel ([[graft.functions.GraftFunctions.quantizeQ8]]),
    * not column algebra: the max-abs scale nested inside a `transform`
    * lambda would be re-evaluated per ELEMENT (O(d²) per vector), and a
    * staged projection doesn't survive CollapseProject re-inlining. */
  def quantizeQ8(vec: Column): Column =
    graft.functions.GraftFunctions.quantizeQ8(vec)

  /** Brute-force cosine top-k over an int8-quantized corpus,
    * quantizing on the fly — the recall/error arithmetic of the SQ8
    * path without a stored corpus (strictly more work per row than
    * [[bruteForceTopK]]; the bandwidth win needs [[buildQ8Corpus]] +
    * [[q8TopKStored]]). Scoring is the int8-native kernel
    * ([[graft.functions.GraftFunctions.cosineSimQ8]]) — long-exact integer
    * accumulation, bit-identical to the cast-to-float formulation the
    * DedupSpec bounds were proven against. */
  def q8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
      roundTo: Int = 4): DataFrame = {
    val c = corpus.select(col("vec_id"), quantizeQ8(col("embedding")).as("q8"))
    scoreQ8(c, queries, k, roundTo)
  }

  /** Persist an int8-quantized (SQ8) corpus: (vec_id, q8
    * ARRAY<TINYINT>) — the stored-int8 scan path. 4× less scan
    * bandwidth than the float corpus; like [[buildIvfIndex]], the
    * quantization pass is a write-once job, not query-time work. */
  def buildQ8Corpus(corpus: DataFrame, path: String): Unit =
    corpus.select(col("vec_id"), quantizeQ8(col("embedding")).as("q8"))
      .write.mode("overwrite").parquet(path)

  /** Brute-force cosine top-k over a STORED int8 corpus: the scan
    * reads only (vec_id, q8) — a quarter of the float corpus's bytes —
    * and scores bytes directly with the int8-native cosine kernel (no
    * cast back to float, no dequantization). Same broadcast-queries /
    * one-corpus-pass / O(k)-heap shape as [[bruteForceTopK]]; scores
    * are identical to [[q8TopK]] on the same corpus. */
  def q8TopKStored(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, roundTo: Int = 4): DataFrame =
    scoreQ8(spark.read.parquet(path), queries, k, roundTo)

  private def scoreQ8(c: DataFrame, queries: DataFrame, k: Int,
      roundTo: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      quantizeQ8(col("embedding")).as("q8_q")))
    val scored = c.join(q)
      .select(col("query_id"), col("vec_id"),
        round(graft.functions.GraftFunctions.cosineSimQ8(col("q8_q"), col("q8")),
          roundTo).as("score"))
    topKPerKey(scored, col("query_id"), col("score"), col("vec_id"), k)
  }

  // ===================================================================
  // Product quantization (PQ/ADC) — the compressed-corpus ANN path
  // ===================================================================

  /** Fit a PQ codebook (public: Jégou et al. 2011): the vector space
    * splits into `m` subspaces of `dims/m` dims, each quantized by its
    * own `ks`-entry codebook. Returns the flattened codebook
    * [(s·ks+c)·ds+d].
    *
    * `mode = "kmeans"` — m independent MLlib k-means fits over
    * subspace slices of the bounded deterministic [[quantizerFitSet]]
    * sample (m driver-loop iterations over SUBSPACES, never over
    * data; each fit input is O(fitSample)).
    * `mode = "firstk"` — closed-form codebook: subspace slices of the
    * ks smallest-id corpus vectors (code c = c-th vector). No
    * iteration, so an oracle can derive the IDENTICAL codebook in
    * SQL — the exact-twin mode; also a k-medoid-style fallback when a
    * corpus is too small to fit. */
  def pqFitCodebook(corpus: DataFrame, m: Int = 16, ks: Int = 16,
      dims: Int = 64, seed: Long = 42L, maxIter: Int = 10,
      fitSample: Int = 262144, mode: String = "kmeans"): Array[Double] = {
    require(dims % m == 0, s"dims $dims must split evenly into m=$m subspaces")
    require(ks >= 1 && ks <= 128, s"ks must fit a signed byte code: $ks")
    val ds = dims / m
    val cb = new Array[Double](m * ks * ds)
    mode match {
      case "firstk" =>
        val rows = corpus.select(col("vec_id"), col("embedding"))
          .orderBy(col("vec_id").asc).limit(ks).collect()
        require(rows.length == ks,
          s"firstk codebook needs >= $ks corpus vectors, got ${rows.length}")
        var c = 0
        while (c < ks) {
          val emb = rows(c).getSeq[Float](1)
          var s = 0
          while (s < m) {
            var d = 0
            while (d < ds) {
              cb((s * ks + c) * ds + d) = emb(s * ds + d).toDouble
              d += 1
            }
            s += 1
          }
          c += 1
        }
      case "kmeans" =>
        // joint Lloyd over ALL m subspaces at once: init = the
        // deterministic firstk medoid codebook, then maxIter rounds of
        // [assign every sample vector with the fused pqEncode kernel →
        // one (s, code, dim) mean aggregation → collect the m·ks·ds
        // cell means (tiny by construction)]. One Spark job per round
        // for every subspace TOGETHER — m sequential per-subspace
        // MLlib fits cost ~m× the jobs for the same math (measured
        // 23.8s warm vs ~2s at m=16 on the sf0.1 bench corpus).
        // Centroids round to 6dp per round so the fit is stable under
        // aggregation-order wobble (same rationale as the semdedup
        // centroid rounding); empty cells keep their previous
        // centroid, the standard Lloyd dead-cell rule.
        val fit = quantizerFitSet(
          corpus.select(col("vec_id"), col("embedding")), fitSample).persist()
        try {
          var cur = pqFitCodebook(corpus, m, ks, dims, seed, maxIter,
            fitSample, "firstk")
          var it = 0
          var moved = true
          while (it < maxIter && moved) {
            val stats = fit
              .select(posexplode(graft.functions.PqFunctions.pqEncode(
                col("embedding"), cur, m, ks, ds)).as(Seq("s", "c")),
                col("embedding"))
              .select(col("s"), col("c"),
                posexplode(slice(col("embedding"), col("s") * ds + 1,
                  lit(ds))).as(Seq("d", "v")))
              .groupBy("s", "c", "d")
              .agg(sum(col("v").cast(DoubleType)).as("sv"),
                count(lit(1)).as("n"))
              .collect()
            val next = cur.clone()
            stats.foreach { r =>
              val idx = (r.getInt(0) * ks + r.getByte(1)) * ds + r.getInt(2)
              next(idx) = math.rint(r.getDouble(3) / r.getLong(4) * 1e6) / 1e6
            }
            moved = !java.util.Arrays.equals(next, cur)
            cur = next
            it += 1
          }
          System.arraycopy(cur, 0, cb, 0, cb.length)
        } finally fit.unpersist()
      case other => throw new IllegalArgumentException(
        s"unknown PQ codebook mode '$other' (kmeans|firstk)")
    }
    cb
  }

  /** PQ/ADC approximate cosine top-k: the corpus is scanned as m-byte
    * code rows (16-32× less bandwidth than float32); each query
    * precomputes its dot-product lookup table ONCE
    * ([[graft.functions.PqKernels.pqLut]]) and every corpus row
    * scores with m table lookups — no reconstruction, no per-row
    * float-vector read. Same output contract as [[bruteForceTopK]];
    * recall < 1 by construction (quantization error), measured in
    * PqSpec. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 16,
      ks: Int = 16, dims: Int = 64, seed: Long = 42L, maxIter: Int = 10,
      fitSample: Int = 262144, roundTo: Int = 4, mode: String = "kmeans",
      refine: Int = 1): DataFrame = {
    require(refine >= 1, s"refine factor must be >= 1: $refine")
    val cb = pqFitCodebook(corpus, m, ks, dims, seed, maxIter, fitSample, mode)
    val ds = dims / m
    val codes = corpus.select(col("vec_id"),
      graft.functions.PqFunctions.pqEncode(col("embedding"), cb, m, ks, ds)
        .as("__codes"))
    val adc = scoreAdc(codes, queries, cb, m, ks, ds, k * refine, roundTo)
    if (refine == 1) adc else pqRefine(adc, corpus, queries, k, roundTo)
  }

  /** Exact re-rank of an over-fetched ADC candidate list — the
    * standard PQ refine stage (FAISS `IndexRefineFlat` shape): the
    * compressed scan nominates k·refine candidates per query, and
    * ONLY those rows re-read their float vectors (a key-equality join
    * against the corpus — never a second corpus scan) for exact
    * cosine re-scoring. Buys back the quantization-error recall loss
    * at O(k·refine) exact distances per query. */
  def pqRefine(candidates: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int, roundTo: Int = 4): DataFrame = {
    val scored = candidates.select(col("query_id"), col("vec_id"))
      .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("q_emb"), col("embedding")), roundTo).as("score"))
    topKPerKey(scored, col("query_id"), col("score"), col("vec_id"), k)
  }

  private def scoreAdc(codes: DataFrame, queries: DataFrame,
      cb: Array[Double], m: Int, ks: Int, ds: Int, k: Int,
      roundTo: Int): DataFrame = {
    val n2 = graft.functions.PqKernels.codewordNorms2(cb, m, ks, ds)
    // index-ordered left fold — matches the kernel/oracle norm order
    val qn = sqrt(F.aggregate(col("embedding").cast("array<double>"),
      lit(0.0), (a, x) => a + x * x))
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      graft.functions.PqFunctions.pqLut(col("embedding"), cb, m, ks, ds)
        .as("__lut"),
      qn.as("__qn")))
    val scored = codes.join(q) // broadcast nested loop: one codes pass
      .select(col("query_id"), col("vec_id"),
        round(graft.functions.PqFunctions.pqAdcCosine(col("__lut"),
          col("__codes"), col("__qn"), n2, ks), roundTo).as("score"))
    topKPerKey(scored, col("query_id"), col("score"), col("vec_id"), k)
  }

  /** Persist a PQ index: `path/codes` = (vec_id, codes
    * ARRAY<TINYINT>) — the m-byte compressed corpus the ADC scan
    * reads INSTEAD of float vectors (the bandwidth win is the whole
    * point of stored PQ); `path/codebook` = the flattened codebook as
    * (idx, v) rows; `path/meta` = (m, ks, dims), written LAST as the
    * commit marker. */
  def buildPqIndex(corpus: DataFrame, path: String, m: Int = 16,
      ks: Int = 16, dims: Int = 64, seed: Long = 42L, maxIter: Int = 10,
      fitSample: Int = 262144, mode: String = "kmeans"): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cb = pqFitCodebook(corpus, m, ks, dims, seed, maxIter, fitSample, mode)
    val ds = dims / m
    corpus.select(col("vec_id"),
        graft.functions.PqFunctions.pqEncode(col("embedding"), cb, m, ks, ds)
          .as("codes"))
      .write.mode("overwrite").parquet(s"$path/codes")
    cb.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("idx", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/codebook")
    Seq((m, ks, dims)).toDF("m", "ks", "dims").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Append new vectors to a persisted PQ index: encode against the
    * STORED codebook (the quantizer is frozen at build time — an
    * increment must code in the same cells as the stored corpus, the
    * same pin-the-config contract as [[appendToCosineIndex]]'s plane
    * meta), anti-join out vec_ids already present, append the rest as
    * code rows. Idempotent under replay; the codebook is never
    * refit — periodic refit is a rebuild ([[buildPqIndex]]), not an
    * append. */
  def appendToPqIndex(spark: SparkSession, indexPath: String,
      vectors: DataFrame, id: Column, vec: Column): Unit = {
    val meta = spark.read.parquet(s"$indexPath/meta").head()
    val (m, ks, dims) = (meta.getAs[Int]("m"), meta.getAs[Int]("ks"),
      meta.getAs[Int]("dims"))
    val cb = spark.read.parquet(s"$indexPath/codebook").orderBy("idx")
      .collect().map(_.getAs[Double]("v"))
    val stored = spark.read.parquet(s"$indexPath/codes").select("vec_id")
    vectors.select(id.as("vec_id"), vec.as("embedding"))
      .join(stored, Seq("vec_id"), "left_anti")
      .select(col("vec_id"),
        graft.functions.PqFunctions.pqEncode(col("embedding"), cb, m, ks,
          dims / m).as("codes"))
      .write.mode("append").parquet(s"$indexPath/codes")
  }

  /** ADC top-k over a STORED PQ index ([[buildPqIndex]]): the scan
    * reads only (vec_id, m bytes) per corpus row — same seed/mode ⇒
    * identical rows to the inline [[pqTopK]] (doubles round-trip
    * parquet losslessly; spec-proven). */
  def pqTopKStored(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, roundTo: Int = 4): DataFrame = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val (m, ks, dims) = (meta.getAs[Int]("m"), meta.getAs[Int]("ks"),
      meta.getAs[Int]("dims"))
    val cb = spark.read.parquet(s"$path/codebook").orderBy("idx")
      .collect().map(_.getAs[Double]("v"))
    val codes = spark.read.parquet(s"$path/codes")
      .select(col("vec_id"), col("codes").as("__codes"))
    scoreAdc(codes, queries, cb, m, ks, dims / m, k, roundTo)
  }

  // ------------------------------------------------------- OPQ

  /** Parametric OPQ rotation (Ge et al., "Optimized Product
    * Quantization", CVPR 2013 / TPAMI 2014 — public): an orthogonal
    * d×d pre-rotation applied before PQ so the m subspaces carry
    * BALANCED variance instead of whatever the raw coordinate order
    * happens to give. This is the paper's parametric (Gaussian)
    * solution: rotate into the PCA eigenbasis — [[Pca.fit]]'s moment
    * machinery, the same store the whitening path uses — then assign
    * eigen-directions to subspaces by greedy eigenvalue-PRODUCT
    * balancing: descending eigenvalues, each to the LEAST-FILLED open
    * subspace (ties broken by smallest log-variance product), which
    * equalizes the per-subquantizer information load. The fill-count
    * restriction makes the greedy SCALE-INVARIANT: all candidates
    * share the same item count, so scaling every eigenvalue by c
    * shifts every candidate's log-product by the same (count)·log c
    * and comparisons are unchanged. Without it, eigenvalues < 1 (any
    * unit-normalized corpus) make a just-filled bucket's log-product
    * the smallest, degenerating the greedy to sequential fill — the
    * OPPOSITE of balance. Orthogonality preserves dot
    * products and norms, so rotated-space ADC scores estimate the
    * ORIGINAL cosine and the exact refine can run in either space.
    * No mean-centering: a shift would change cosines. Returns the
    * row-major d×d rotation (row r = the eigenvector assigned to
    * output slot r). */
  def opqRotation(corpus: DataFrame, dims: Int = 64,
      m: Int = 16): Array[Double] = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val model = Pca.fit(corpus.select(col("vec_id"), col("embedding")),
      col("embedding"), dims, dims)
    val ds = dims / m
    val slots = new Array[Int](m)
    val logVar = new Array[Double](m)
    val slotOf = new Array[Int](dims) // eig index (desc order) -> subspace
    var e = 0
    while (e < dims) {
      var minFill = ds
      var s = 0
      while (s < m) {
        if (slots(s) < minFill) minFill = slots(s)
        s += 1
      }
      var best = -1
      s = 0
      while (s < m) {
        if (slots(s) == minFill && (best < 0 || logVar(s) < logVar(best)))
          best = s
        s += 1
      }
      slotOf(e) = best
      slots(best) += 1
      logVar(best) += math.log(math.max(model.eigvals(e), 1e-12))
      e += 1
    }
    val rowOf = new Array[Int](dims) // output row -> eig index
    val fill = new Array[Int](m)
    e = 0
    while (e < dims) {
      val s = slotOf(e)
      rowOf(s * ds + fill(s)) = e
      fill(s) += 1
      e += 1
    }
    val rot = new Array[Double](dims * dims)
    var r = 0
    while (r < dims) {
      System.arraycopy(model.components, rowOf(r) * dims, rot, r * dims, dims)
      r += 1
    }
    rot
  }

  /** Apply an [[opqRotation]] to an (vec_id, embedding) frame — the
    * fused mat-vec kernel with a zero mean (pure rotation, cosine-
    * preserving). Output schema matches the input contract, so every
    * PQ/ANN operator composes downstream. */
  def opqRotate(emb: DataFrame, rot: Array[Double],
      dims: Int): DataFrame =
    emb.select(col("vec_id"),
      graft.functions.GraftFunctions.projectCentered(col("embedding"),
        new Array[Double](dims), rot, dims, dims)
        .cast("array<float>") // the (vec_id, embedding) corpus contract
        .as("embedding"))

  /** PQ/ADC top-k under the parametric OPQ rotation: fit the rotation
    * from the corpus moments, rotate corpus AND queries, then run the
    * standard [[pqTopK]] (codebook fit, ADC scan, exact refine) in
    * rotated space. Same output contract; the rotation typically buys
    * recall at the SAME code budget by stopping high-variance
    * directions from crowding into a few subquantizers (measured as a
    * METRICS.json floor above the unrotated PQ row). */
  def opqPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 16, ks: Int = 16, dims: Int = 64, seed: Long = 42L,
      maxIter: Int = 10, fitSample: Int = 262144, roundTo: Int = 4,
      mode: String = "kmeans", refine: Int = 1): DataFrame = {
    val rot = opqRotation(corpus, dims, m)
    pqTopK(opqRotate(corpus, rot, dims), opqRotate(queries, rot, dims),
      k, m, ks, dims, seed, maxIter, fitSample, roundTo, mode, refine)
  }

  /** NON-PARAMETRIC OPQ rotation (Ge et al. §4, public): alternate
    * [orthogonal-Procrustes re-solve of R under the current codebooks
    * → Lloyd refit of the codebooks under the new R], seeded from the
    * parametric rotation ([[opqRotation]]). Each step exactly
    * minimizes the shared quantization objective with the other block
    * fixed — Procrustes: R = polar(Σ zᵢxᵢᵀ), the closed-form optimum
    * over orthogonal matrices; Lloyd warm-started from the previous
    * codebooks never ends above its start — so the sample objective
    * is MONOTONE non-increasing across iterations (PqSpec pins that,
    * R·Rᵀ = I, and the recall ordering on an anisotropic planted
    * corpus). Runs DRIVER-side over the bounded [[quantizerFitSet]]
    * sample (fitSample×dims doubles, the same bounded-model-state
    * class as the codebook collects; zero Spark jobs inside the
    * alternation — per iteration O(n·m·ks·ds) assign + O(n·d²)
    * accumulate + O(d³) polar), because real anisotropic, non-
    * Gaussian corpora are where the alternation buys recall the
    * Gaussian-optimal parametric solution cannot see. Returns the
    * row-major d×d rotation (y = R·x), same contract as
    * [[opqRotation]]; iters = 0 degrades to the parametric answer. */
  def opqRotationNP(corpus: DataFrame, dims: Int = 64, m: Int = 16,
      ks: Int = 16, iters: Int = 8, lloydIters: Int = 10,
      fitSample: Int = 16384): Array[Double] =
    opqRotationNPTrace(corpus, dims, m, ks, iters, lloydIters, fitSample)._1

  /** [[opqRotationNP]] plus the sample-objective trace (one entry
    * after each Lloyd refit, the parametric seed first) — PqSpec pins
    * the trace monotone non-increasing. */
  private[ops] def opqRotationNPTrace(corpus: DataFrame, dims: Int,
      m: Int, ks: Int, iters: Int, lloydIters: Int,
      fitSample: Int): (Array[Double], Seq[Double]) = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val ds = dims / m
    var rot = opqRotation(corpus, dims, m)
    if (iters == 0) return (rot, Nil)
    // bounded sample, deterministic order (xxhash64 then vec_id)
    val x: Array[Array[Double]] =
      quantizerFitSet(corpus.select(col("vec_id"), col("embedding")),
        fitSample)
        .select(col("vec_id"), col("embedding")).collect()
        .sortBy(_.getLong(0))
        .map(_.getSeq[Float](1).toArray.map(_.toDouble))
    val n = x.length
    require(n >= ks, s"NP-OPQ needs >= $ks sample vectors, got $n")
    def rotate(v: Array[Double], r: Array[Double]): Array[Double] = {
      val y = new Array[Double](dims)
      var i = 0
      while (i < dims) {
        var acc = 0.0; var j = 0
        while (j < dims) { acc += r(i * dims + j) * v(j); j += 1 }
        y(i) = acc; i += 1
      }
      y
    }
    // codebook cb(s*ks+c)*ds+d; codes per row; reconstruction in
    // rotated space
    var cb: Array[Double] = null
    val codes = new Array[Int](n * m)
    def assignAndError(y: Array[Array[Double]]): Double = {
      var err = 0.0
      var i = 0
      while (i < n) {
        var s = 0
        while (s < m) {
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < ks) {
            var d2 = 0.0; var d = 0
            while (d < ds) {
              val diff = y(i)(s * ds + d) - cb((s * ks + c) * ds + d)
              d2 += diff * diff; d += 1
            }
            if (d2 < bestD) { bestD = d2; best = c } // strict: tie → lower c
            c += 1
          }
          codes(i * m + s) = best
          err += bestD
          s += 1
        }
        i += 1
      }
      err
    }
    def lloyd(y: Array[Array[Double]]): Double = {
      var it = 0
      var err = assignAndError(y)
      var moved = true
      while (it < lloydIters && moved) {
        val sums = new Array[Double](m * ks * ds)
        val cnt = new Array[Long](m * ks)
        var i = 0
        while (i < n) {
          var s = 0
          while (s < m) {
            val c = codes(i * m + s)
            cnt(s * ks + c) += 1
            var d = 0
            while (d < ds) {
              sums((s * ks + c) * ds + d) += y(i)(s * ds + d); d += 1
            }
            s += 1
          }
          i += 1
        }
        val next = cb.clone() // empty cells keep their centroid
        var sc = 0
        while (sc < m * ks) {
          if (cnt(sc) > 0) {
            var d = 0
            while (d < ds) {
              next(sc * ds + d) =
                math.rint(sums(sc * ds + d) / cnt(sc) * 1e6) / 1e6
              d += 1
            }
          }
          sc += 1
        }
        moved = !java.util.Arrays.equals(next, cb)
        cb = next
        err = assignAndError(y)
        it += 1
      }
      err
    }
    // iteration 0: codebooks under the parametric rotation (firstk init)
    var y = x.map(rotate(_, rot))
    cb = new Array[Double](m * ks * ds)
    var c0 = 0
    while (c0 < ks) { // firstk of the rotated sample
      var s = 0
      while (s < m) {
        var d = 0
        while (d < ds) {
          cb((s * ks + c0) * ds + d) = y(c0)(s * ds + d); d += 1
        }
        s += 1
      }
      c0 += 1
    }
    val errs = scala.collection.mutable.ArrayBuffer[Double](lloyd(y))
    var t = 0
    while (t < iters) {
      // Procrustes: maximize tr(Rᵀ·B), B = Σ zᵢ·xᵢᵀ (z = reconstruction
      // in rotated space, x original) → R = polar factor of B
      val b = new Array[Double](dims * dims)
      var i = 0
      while (i < n) {
        var r = 0
        while (r < dims) {
          val z = cb(((r / ds) * ks + codes(i * m + r / ds)) * ds + (r % ds))
          if (z != 0.0) {
            var j = 0
            while (j < dims) { b(r * dims + j) += z * x(i)(j); j += 1 }
          }
          r += 1
        }
        i += 1
      }
      polarFactor(b, dims) match {
        case Some(next) => rot = next
        case None       => // degenerate B (tiny/degenerate sample): keep R
      }
      y = x.map(rotate(_, rot))
      errs += lloyd(y) // warm start from current cb: never ends above its start
      t += 1
    }
    (rot, errs.toSeq)
  }

  /** Orthogonal polar factor of a d×d matrix via the scaled Newton
    * iteration A ← (A + A⁻ᵀ)/2 (Higham, public) — the U·Vᵀ of the
    * SVD without computing one. None when A is numerically singular
    * (no unique nearest rotation). */
  private def polarFactor(a0: Array[Double], d: Int): Option[Array[Double]] = {
    // scale by 1/sqrt(norm1 * normInf) for fast convergence
    var n1 = 0.0; var nInf = 0.0
    var i = 0
    while (i < d) {
      var rs = 0.0; var cs = 0.0
      var j = 0
      while (j < d) { rs += math.abs(a0(i * d + j)); cs += math.abs(a0(j * d + i)); j += 1 }
      if (rs > nInf) nInf = rs
      if (cs > n1) n1 = cs
      i += 1
    }
    if (n1 == 0.0 || nInf == 0.0) return None
    val s = 1.0 / math.sqrt(n1 * nInf)
    var a = a0.map(_ * s)
    var it = 0
    while (it < 60) {
      val inv = invert(a, d).getOrElse(return None)
      val next = new Array[Double](d * d)
      var delta = 0.0
      i = 0
      while (i < d) {
        var j = 0
        while (j < d) {
          val v = 0.5 * (a(i * d + j) + inv(j * d + i)) // (A + A⁻ᵀ)/2
          delta = math.max(delta, math.abs(v - a(i * d + j)))
          next(i * d + j) = v
          j += 1
        }
        i += 1
      }
      a = next
      if (delta < 1e-13) return Some(a)
      it += 1
    }
    Some(a) // converged enough for a 64×64 rotation in practice
  }

  /** Gauss-Jordan inverse with partial pivoting; None when a pivot
    * collapses (singular). */
  private def invert(m0: Array[Double], d: Int): Option[Array[Double]] = {
    val a = m0.clone()
    val inv = new Array[Double](d * d)
    var i = 0
    while (i < d) { inv(i * d + i) = 1.0; i += 1 }
    var col = 0
    while (col < d) {
      var piv = col
      var r = col + 1
      while (r < d) {
        if (math.abs(a(r * d + col)) > math.abs(a(piv * d + col))) piv = r
        r += 1
      }
      if (math.abs(a(piv * d + col)) < 1e-12) return None
      if (piv != col) {
        var j = 0
        while (j < d) {
          var t = a(piv * d + j); a(piv * d + j) = a(col * d + j); a(col * d + j) = t
          t = inv(piv * d + j); inv(piv * d + j) = inv(col * d + j); inv(col * d + j) = t
          j += 1
        }
      }
      val p = a(col * d + col)
      var j = 0
      while (j < d) { a(col * d + j) /= p; inv(col * d + j) /= p; j += 1 }
      r = 0
      while (r < d) {
        if (r != col) {
          val f = a(r * d + col)
          if (f != 0.0) {
            var jj = 0
            while (jj < d) {
              a(r * d + jj) -= f * a(col * d + jj)
              inv(r * d + jj) -= f * inv(col * d + jj)
              jj += 1
            }
          }
        }
        r += 1
      }
      col += 1
    }
    Some(inv)
  }

  /** PQ/ADC top-k under the NON-PARAMETRIC OPQ rotation — fit the
    * alternated rotation, rotate corpus and queries, run the standard
    * [[pqTopK]] (codebook refit on the full fitSample, ADC scan,
    * exact refine) in rotated space. Same output contract as
    * [[opqPqTopK]]. */
  def opqNpPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 16, ks: Int = 16, dims: Int = 64, seed: Long = 42L,
      maxIter: Int = 10, fitSample: Int = 262144, roundTo: Int = 4,
      mode: String = "kmeans", refine: Int = 1, npIters: Int = 8): DataFrame = {
    val rot = opqRotationNP(corpus, dims, m, ks, npIters)
    pqTopK(opqRotate(corpus, rot, dims), opqRotate(queries, rot, dims),
      k, m, ks, dims, seed, maxIter, fitSample, roundTo, mode, refine)
  }

  /** IVF-PQ under an OPQ pre-rotation — the full composed chain
    * (FAISS's "OPQ,IVF,PQ" factory shape, cosine variant): the
    * orthogonal rotation balances the subspaces the RESIDUAL PQ
    * codes live in, the coarse quantizer prunes lists, and the
    * default 4× exact refine re-ranks in rotated space (cosines are
    * identical in either space). `np = true` seeds the rotation from
    * the parametric solution and runs the Ge §4 alternation. */
  def opqIvfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 64, nprobe: Int = 8, m: Int = 16, ks: Int = 16,
      dims: Int = 64, seed: Long = 42L, maxIter: Int = 10,
      fitSample: Int = 262144, roundTo: Int = 4, mode: String = "kmeans",
      refine: Int = 4, np: Boolean = false, npIters: Int = 8): DataFrame = {
    val rot =
      if (np) opqRotationNP(corpus, dims, m, ks, npIters)
      else opqRotation(corpus, dims, m)
    ivfPqTopK(opqRotate(corpus, rot, dims), opqRotate(queries, rot, dims),
      k, nlist, nprobe, m, ks, dims, seed, maxIter, fitSample, roundTo,
      mode, refine)
  }

  /** Persist an OPQ index — the fit-once shape a 100 TB corpus wants:
    * the rotation (parametric, or non-parametric with `np = true`) is
    * solved ONCE at build time and stored beside the PQ index of the
    * ROTATED corpus ([[buildPqIndex]] layout + a `rotation` table),
    * so every later query/append pays one mat-vec per vector instead
    * of a refit. Same frozen-quantizer contract as the PQ store:
    * periodic re-optimization is a rebuild, never an append. */
  def buildOpqIndex(corpus: DataFrame, path: String, m: Int = 16,
      ks: Int = 16, dims: Int = 64, seed: Long = 42L, maxIter: Int = 10,
      fitSample: Int = 262144, mode: String = "kmeans",
      np: Boolean = false, npIters: Int = 8): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val rot =
      if (np) opqRotationNP(corpus, dims, m, ks, npIters)
      else opqRotation(corpus, dims, m)
    buildPqIndex(opqRotate(corpus, rot, dims), path, m, ks, dims, seed,
      maxIter, fitSample, mode)
    rot.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("idx", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/rotation")
  }

  private def loadOpqRotation(spark: SparkSession,
      path: String): (Array[Double], Int) = {
    val dims = spark.read.parquet(s"$path/meta").head().getAs[Int]("dims")
    val rot = spark.read.parquet(s"$path/rotation").orderBy("idx")
      .collect().map(_.getAs[Double]("v"))
    require(rot.length == dims * dims,
      s"stored rotation is ${rot.length} values, want $dims x $dims")
    (rot, dims)
  }

  /** Append new vectors to a persisted OPQ index: rotate by the
    * STORED rotation, then [[appendToPqIndex]]'s frozen-codebook
    * encode + idempotent anti-join. */
  def appendToOpqIndex(spark: SparkSession, indexPath: String,
      vectors: DataFrame, id: Column, vec: Column): Unit = {
    val (rot, dims) = loadOpqRotation(spark, indexPath)
    appendToPqIndex(spark, indexPath,
      opqRotate(vectors.select(id.as("vec_id"), vec.as("embedding")),
        rot, dims), col("vec_id"), col("embedding"))
  }

  /** ADC top-k over a STORED OPQ index: queries rotate by the stored
    * rotation (one broadcast mat-vec each), then the standard stored
    * ADC scan; `refine > 1` re-ranks the over-fetch with exact
    * cosines, rotating the passed float corpus through the SAME
    * stored rotation so the arithmetic matches the inline path
    * float-for-float (the rotation is orthogonal, so these ARE the
    * original cosines). Same seed/mode at build ⇒ identical rows to
    * the inline [[opqPqTopK]] (spec-proven). */
  def opqPqTopKStored(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, refine: Int = 1,
      corpus: DataFrame = null, roundTo: Int = 4): DataFrame = {
    require(refine >= 1, s"refine factor must be >= 1: $refine")
    require(refine == 1 || corpus != null,
      "refine > 1 needs the float corpus for exact re-ranking")
    val (rot, dims) = loadOpqRotation(spark, path)
    val rq = opqRotate(queries, rot, dims)
    val adc = pqTopKStored(spark, path, rq, k * refine, roundTo)
    if (refine == 1) adc
    else pqRefine(adc, opqRotate(corpus, rot, dims), rq, k, roundTo)
  }

  // ----------------------------------------------------- IVF-PQ

  /** IVF-PQ composite ANN (the FAISS IndexIVFPQ shape, cosine
    * variant): the coarse k-means quantizer partitions the corpus
    * into `nlist` inverted lists, and each list's vectors are stored
    * as `m`-byte PQ codes of their RESIDUAL (x − centroid) — residual
    * quantization spends the codebook's resolution on the within-list
    * spread instead of re-encoding the centroid every code carries
    * implicitly, the composition's whole point. One shared residual
    * codebook serves every list (standard practice).
    *
    * Scoring: score(q, x̂) = (q·c_list + Σ_s LUT_q[code_s])
    * / (‖q‖·‖x̂‖) with x̂ = c + r̂. The per-subspace LUT is built from
    * the query ONCE (list-independent — residual codebooks don't
    * shift per list), q·c_list is one scalar per (query, probed
    * list), and ‖x̂‖ is stored EXACTLY per row at encode time (one
    * double next to the m code bytes): the LUT cannot carry the
    * c·r̂ cross term, so the stored norm is what keeps the cosine
    * exact with respect to the reconstruction rather than
    * approximated twice. A query batch therefore ADC-scans only its
    * probed lists' code rows — (m + 8) bytes per candidate instead
    * of 4·dims float bytes, on ~nprobe/nlist of the corpus.
    *
    * Recall < 1 by construction (coarse pruning × quantization
    * error); `refine` over-fetches k·refine ADC candidates and
    * re-ranks them exactly against the float corpus ([[pqRefine]]).
    * Refine is ON BY DEFAULT (4×): measured recall@10 at sf0.1 is
    * 0.41 ADC-only vs 0.69 with the 4× exact re-rank (METRICS.json
    * floors), and the re-rank costs only k·refine exact dots per
    * query — quality-sensitive callers should not have to know to
    * opt in. Pass `refine = 1` for the pure compressed scan (bulk
    * candidate generation where a downstream stage re-scores
    * anyway). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 64, nprobe: Int = 8, m: Int = 16, ks: Int = 16,
      dims: Int = 64, seed: Long = 42L, maxIter: Int = 10,
      fitSample: Int = 262144, roundTo: Int = 4, mode: String = "kmeans",
      refine: Int = 4): DataFrame = {
    require(refine >= 1, s"refine factor must be >= 1: $refine")
    val (centersDf, codes, cb) =
      fitIvfPq(corpus, nlist, m, ks, dims, seed, maxIter, fitSample, mode)
    val adc = scoreIvfPq(centersDf, codes, queries, cb, m, ks, dims / m,
      probeLists(centersDf, queries, nprobe), k * refine, roundTo)
    if (refine == 1) adc else pqRefine(adc, corpus, queries, k, roundTo)
  }

  /** Build half shared by the inline and persisted paths: coarse fit
    * + assignment, residual encode, exact reconstructed norm.
    * Returns (centroids, (vec_id, __list, codes, rnorm), codebook). */
  private def fitIvfPq(corpus: DataFrame, nlist: Int, m: Int, ks: Int,
      dims: Int, seed: Long, maxIter: Int, fitSample: Int,
      mode: String): (DataFrame, DataFrame, Array[Double]) = {
    val (centersDf, assigned) = fitIvf(corpus, nlist, seed, maxIter, fitSample)
    val ds = dims / m
    val withC = assigned.join(broadcast(centersDf), Seq("__list"))
    val resid = zip_with(col("embedding").cast("array<double>"),
      col("__centroid"), (x, y) => x - y).cast("array<float>")
    // the residual codebook fits on the residual sample — rename into
    // pqFitCodebook's (vec_id, embedding) contract
    val residFrame = withC.select(col("vec_id"), resid.as("embedding"))
    val cb = pqFitCodebook(residFrame, m, ks, dims, seed, maxIter,
      fitSample, mode)
    val codes = withC.select(col("vec_id"), col("__list"),
        graft.functions.PqFunctions.pqEncode(resid, cb, m, ks, ds)
          .as("codes"), col("__centroid"))
      .select(col("vec_id"), col("__list"), col("codes"),
        graft.functions.PqFunctions.pqReconNorm(col("codes"),
          col("__centroid"), cb, ks, ds).as("rnorm"))
    (centersDf, codes, cb)
  }

  /** The probed ADC scan: q·c per (query, probed list) + LUT sums
    * over the probed lists' code rows, normalized by the stored
    * reconstructed norm. */
  private def scoreIvfPq(centersDf: DataFrame, codes: DataFrame,
      queries: DataFrame, cb: Array[Double], m: Int, ks: Int, ds: Int,
      probeDf: DataFrame, k: Int, roundTo: Int): DataFrame = {
    val qd = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("__q"))
    val qdotc = probeDf.join(broadcast(centersDf), Seq("__list"))
      .join(broadcast(qd), Seq("query_id"))
      .select(col("query_id"), col("__list"),
        F.aggregate(zip_with(col("__q"), col("__centroid"),
          (x, y) => x * y), lit(0.0), (a, x) => a + x).as("__qdotc"))
    val qn = sqrt(F.aggregate(col("embedding").cast("array<double>"),
      lit(0.0), (a, x) => a + x * x))
    val qlut = queries.select(col("vec_id").as("query_id"),
      graft.functions.PqFunctions.pqLut(col("embedding"), cb, m, ks, ds)
        .as("__lut"),
      qn.as("__qn"))
    val scored = codes.join(broadcast(qdotc), Seq("__list"))
      .join(broadcast(qlut), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(
          when(col("__qn") * col("rnorm") === 0.0, lit(0.0))
            .otherwise((col("__qdotc") +
              graft.functions.PqFunctions.pqAdcDot(col("__lut"),
                col("codes"), ks)) / (col("__qn") * col("rnorm"))),
          roundTo).as("score"))
    topKPerKey(scored, col("query_id"), col("score"), col("vec_id"), k)
  }

  /** Persist an IVF-PQ index: `path/centroids` (the coarse
    * quantizer), `path/codebook` (flattened residual codebook as
    * (idx, v) rows), `path/codes` PARTITIONED BY __list —
    * (vec_id, codes, rnorm): a probed read is a partition-pruned
    * directory read of (m + 8)-byte rows — and `path/meta`
    * (m, ks, dims, nlist), written LAST as the commit marker. Same
    * seed/fit-set ⇒ [[ivfPqTopKStored]] returns the inline
    * [[ivfPqTopK]] rows (doubles round-trip parquet losslessly;
    * spec-proven). */
  def buildIvfPqIndex(corpus: DataFrame, path: String, nlist: Int = 64,
      m: Int = 16, ks: Int = 16, dims: Int = 64, seed: Long = 42L,
      maxIter: Int = 10, fitSample: Int = 262144,
      mode: String = "kmeans"): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (centersDf, codes, cb) =
      fitIvfPq(corpus, nlist, m, ks, dims, seed, maxIter, fitSample, mode)
    centersDf.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    codes.repartition(col("__list"))
      .write.mode("overwrite").partitionBy("__list").parquet(s"$path/codes")
    cb.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("idx", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/codebook")
    Seq((m, ks, dims, nlist)).toDF("m", "ks", "dims", "nlist").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Query a persisted IVF-PQ index: centroid table + codebook read
    * whole (both broadcast-small), probed list ids collected (the
    * same bounded driver contract as [[ivfTopKIndexed]]) so the code
    * scan is partition-PRUNED to the probed directories.
    *
    * The index stores codes, not floats, so the exact refine stage
    * needs the float `corpus` passed in — when it is, this applies
    * [[ivfPqTopK]]'s refine-by-default posture (`refine` = 4× exact
    * re-rank; METRICS.json floors 0.41 ADC vs 0.69 refined). Without
    * a corpus the scan is ADC-only: fine for candidate generation,
    * but quality-sensitive callers should supply the corpus. */
  def ivfPqTopKStored(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, nprobe: Int = 8,
      roundTo: Int = 4, corpus: DataFrame = null,
      refine: Int = 4): DataFrame = {
    require(refine >= 1, s"refine factor must be >= 1: $refine")
    if (corpus != null && refine > 1) {
      val adc = ivfPqTopKStored(spark, path, queries, k * refine, nprobe,
        roundTo, null, 1)
      return pqRefine(adc, corpus, queries, k, roundTo)
    }
    val meta = spark.read.parquet(s"$path/meta").head()
    val (m, ks, dims) = (meta.getAs[Int]("m"), meta.getAs[Int]("ks"),
      meta.getAs[Int]("dims"))
    val cb = spark.read.parquet(s"$path/codebook").orderBy("idx")
      .collect().map(_.getAs[Double]("v"))
    val centersDf = spark.read.parquet(s"$path/centroids")
    val probeDf = probeLists(centersDf, queries, nprobe).transform(Layout.pin(_))
    val probed = probeDf.select("__list").distinct().collect()
      .map(_.getLong(0).toInt)
    val codes = spark.read.parquet(s"$path/codes")
      .filter(col("__list").isin(probed.map(Int.box): _*))
      .select(col("vec_id"), col("codes"), col("rnorm"),
        col("__list").cast(LongType).as("__list"))
    scoreIvfPq(centersDf, codes, queries, cb, m, ks, dims / m, probeDf, k,
      roundTo)
  }

  /** LSH-bucketed ANN: only corpus vectors sharing a hyperplane bucket
    * with the query — in any of `tables` independent hash tables — are
    * scored. The 100 TB path: bucket-equality join instead of a full
    * corpus scan per query. Recall < 1 by construction; `planes` trades
    * selectivity against per-table recall and `tables` buys recall back
    * (P(candidate) = 1 − (1 − p^planes)^tables). Candidates are
    * de-duplicated across tables BEFORE scoring, so each (query,
    * vector) pays the cosine once.
    *
    * `probeBits = 1` enables multi-probe (Lv et al., "Multi-Probe LSH",
    * VLDB'07, public): each query probes its own bucket PLUS the
    * `planes` single-bit-flip neighbors — the buckets a near neighbor
    * lands in when exactly one hyperplane votes the other way, the
    * dominant miss mode. The ball explodes the QUERY side only
    * (queries are the tiny broadcast side; the corpus table is
    * untouched), multiplying candidate volume by ≤ planes+1 while
    * recall rises as if each table were (planes+1)-way probed —
    * cheaper than the extra hash tables buying the same recall (which
    * explode the CORPUS side). Same radius-1 ball pattern as the
    * simhash funnel ([[Dedup.simhashPairs]]); r ≥ 2 balls are never
    * worth it — add tables instead (enforced). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      planes: Int = 8, dims: Int = 64, tables: Int = 1, roundTo: Int = 4,
      probeBits: Int = 0): DataFrame = {
    require(probeBits >= 0 && probeBits <= 1,
      s"probeBits must be 0 (exact bucket) or 1 (single-bit-flip ball), got $probeBits")
    val c = corpus.select(col("vec_id"),
      posexplode(lshBuckets(col("embedding"), planes, dims, tables)).as(Seq("t", "b")))
    val q0 = queries.select(col("vec_id").as("query_id"),
      posexplode(lshBuckets(col("embedding"), planes, dims, tables)).as(Seq("t", "b")))
    val q = broadcast(
      if (probeBits == 0) q0
      else q0.select(col("query_id"), col("t"),
        explode(F.transform(sequence(lit(0), lit(planes)),
          i => when(i === 0, col("b")).otherwise(
            col("b").bitwiseXOR(call_function("shiftleft", lit(1L), i - 1))))).as("b")))
    val cands = c.join(q, Seq("t", "b")).select("query_id", "vec_id").distinct()
    val scored = cands
      .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("q_emb"), col("embedding")), roundTo).as("score"))
    topKPerKey(scored, col("query_id"), col("score"), col("vec_id"), k)
  }

  /** All-pairs cosine over SPARSE L2-normalized vectors
    * (doc_id, pos, w — the [[TextOps.hashedTfIdf]] form) via an
    * inverted-index join (public: Bayardo et al. 2007, "Scaling Up
    * All Pairs Similarity Search"): cosine(a, b) = Σ_{shared pos}
    * w_a·w_b, so candidates meet ONLY through shared posting lists —
    * a key-equality join on `pos`, never an all-pairs product, and
    * docs sharing no bucket never materialize a row.
    *
    * `dfCap` drops posting lists longer than the cap (the hot-bucket
    * insurance every funnel carries): a stopword-like bucket shared
    * by B documents mints B² partial rows on one shuffle key.
    * Dropping a list underestimates affected cosines by at most that
    * bucket's weight mass — and idf has already made exactly those
    * buckets near-weightless, which is what makes the cap safe to
    * size aggressively at scale. */
  def sparseCosinePairs(sparse: DataFrame, threshold: Double,
      dfCap: Int = 100000, roundTo: Int = 4,
      dfFrac: Double = 0.0): DataFrame = {
    // Candidate generation is PREFIX-FILTERED (the Bayardo/AllPairs
    // bound): order each doc's features hottest-first (df desc) and
    // call a feature UNINDEXED while the running Σ w·maxw stays below
    // the threshold — any pair overlapping ONLY in one side's
    // unindexed set has dot ≤ that running bound < t, so joining the
    // full lists against the INDEXED remainder finds every result
    // pair. This is what makes cost monotone in corpus size: hot
    // posting lists sitting just under dfCap used to mint df² partial
    // rows (Σdf² is non-monotone — lists leave the sum the moment
    // they cross the cap), but idf makes exactly those features
    // near-weightless, so they land in the unindexed prefix of the
    // hot-first order and their full×indexed join side is ~empty.
    // Survivors get the EXACT capped-subspace dot via a pair-keyed
    // re-join — output is identical to the plain inverted-index
    // formulation, only the plan changes.
    import org.apache.spark.sql.expressions.Window
    // Optional PROPORTIONAL df-cap (dfFrac > 0): effective cap =
    // min(dfCap, max(64, dfFrac·n)). The absolute cap alone makes
    // Σdf² non-monotone in corpus size — lists just UNDER it mint df²
    // candidates until growth pushes them over — and on degenerate
    // corpora (uniform df, flat weights) the prefix bound below can't
    // prune either, because every feature's suffix mass is alike. A
    // stopword is a RELATIVE notion; at 100 TB the fraction is the
    // only stable definition. Default 0.0 = absolute-cap semantics
    // (every registered oracle unchanged). Drops are ledgered.
    val margin = math.pow(10.0, -roundTo) // rounded-cos boundary slack
    val pruned = sparse.select(col("doc_id"), col("pos"), col("w"))
    val effCap =
      if (dfFrac <= 0) dfCap
      else {
        val n = pruned.select(col("doc_id")).distinct().count()
        val c = math.min(dfCap.toLong,
          math.max(64L, math.ceil(dfFrac * n).toLong)).toInt
        Ledger.note("sparse_cosine_df_frac",
          s"effective df cap $c (dfFrac=$dfFrac over $n docs, abs cap $dfCap)")
        c
      }
    val capped = Dedup.dropOversizedBuckets(pruned, Seq("pos"), effCap).persist()
    val posStats = capped.groupBy("pos")
      .agg(count(lit(1)).as("__df"), max(col("w")).as("__maxw"))
    val hotFirst = Window.partitionBy("doc_id")
      .orderBy(col("__df").desc, col("pos").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val indexed = capped.join(posStats, Seq("pos"))
      .withColumn("__cum", sum(col("w") * col("__maxw")).over(hotFirst))
      .filter(col("__cum") >= threshold - margin)
      .select(col("pos"), col("doc_id"))
    val cands = capped.select(col("pos"), col("doc_id").as("id_x"))
      .join(indexed.select(col("pos"), col("doc_id").as("id_y")), Seq("pos"))
      .filter(col("id_x") =!= col("id_y"))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"))
      .distinct()
    val av = capped.select(col("doc_id").as("id_a"), col("pos"),
      col("w").as("w_a"))
    val bv = capped.select(col("doc_id").as("id_b"), col("pos"),
      col("w").as("w_b"))
    val out = cands.join(av, Seq("id_a"))
      .join(bv, Seq("id_b", "pos"))
      .groupBy("id_a", "id_b")
      .agg(round(sum(col("w_a") * col("w_b")), roundTo).as("cos"))
      .filter(col("cos") >= threshold)
    Layout.pin(out, capped)
  }

  /** Hard-negative mining for contrastive/embedding training (public
    * practice: DPR, Karpukhin et al. 2020 — mined hard negatives beat
    * in-batch random ones): for each anchor, the top-k most similar
    * corpus vectors INSIDE a cosine band [lo, hi) — similar enough to
    * be hard, and below the near-dup/positive ceiling so duplicates
    * and same-item pairs are excluded (self-pairs always are). Same
    * broadcast-anchors/one-corpus-pass/O(k)-heap shape as
    * [[bruteForceTopK]]; the band filter runs BEFORE the heap, so the
    * shuffle carries only in-band candidates. At 100 TB compose the
    * band filter over an ANN candidate stage instead ([[pqTopK]] with
    * an over-fetch, or [[ivfTopK]]) — the scoring contract is
    * unchanged. Output: (query_id, vec_id, score). */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, k: Int,
      lo: Double = 0.3, hi: Double = 0.9, roundTo: Int = 4): DataFrame = {
    require(lo < hi, s"empty cosine band [$lo, $hi)")
    val a = broadcast(anchors.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    val scored = corpus.select(col("vec_id"), col("embedding"))
      .join(a)
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("q_emb"), col("embedding")), roundTo).as("score"))
      .filter(col("score") >= lo && col("score") < hi)
    topKPerKey(scored, col("query_id"), col("score"), col("vec_id"), k)
  }

  /** Semantic deduplication (public: Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the embedding space with the IVF k-means
    * quantizer, generate within-cluster cosine pairs above
    * `threshold`, close them into duplicate groups (star-contraction
    * connected components — O(log n) rounds on any shape), and mark
    * ONE keeper per group. Output, one row per input vector:
    * (vec_id, cluster, component, ccos, keep) with `component` = the
    * duplicate group (its min member id; singletons label themselves),
    * `ccos` = cosine to the cluster centroid, `keep` ∈ {0,1}.
    *
    * `keepRule` = "low_centroid_sim" is the paper's rule — within a
    * duplicate group keep the member LEAST similar to its centroid,
    * pruning toward diversity; "min_id" is the engine-portable
    * deterministic rule the oracle twin can reproduce verbatim.
    *
    * Scale shape: pair generation is cluster-blocked (never
    * all-pairs — nClusters grows with the corpus so occupancy stays
    * bounded), an oversized cluster is skipped for PAIRING only
    * (`clusterCap`, the [[Dedup.dropOversizedBuckets]] insurance)
    * while its members remain singleton keepers — output coverage is
    * total by construction; keeper marking is one window over
    * components. */
  def semanticDedup(emb: DataFrame, id: Column, vec: Column,
      nClusters: Int = 16, threshold: Double = 0.4,
      keepRule: String = "low_centroid_sim", clusterCap: Int = 100000,
      seed: Long = 42L, maxIter: Int = 10, fitSample: Int = 262144,
      roundTo: Int = 4, ccMaxIter: Int = 50): DataFrame = {
    val base = emb.select(id.as("vec_id"), vec.as("embedding"))
    val (centersDf, assigned) = fitIvf(base, nClusters, seed, maxIter, fitSample)
    semanticDedupAssigned(assigned, centersDf, threshold, keepRule,
      clusterCap, roundTo, ccMaxIter)
  }

  /** [[semanticDedup]] with a caller-provided cluster column (a domain
    * label, a stored IVF assignment) standing in for the k-means fit,
    * and centroids = per-cluster mean vectors rounded to
    * `centroidRoundTo` — every stage deterministic and portable, which
    * is what lets the exact oracle twin reproduce the WHOLE funnel
    * (pairs → components → keeper marking) verbatim in SQL. */
  def semanticDedupByCluster(emb: DataFrame, id: Column, vec: Column,
      cluster: Column, threshold: Double = 0.4,
      keepRule: String = "low_centroid_sim", clusterCap: Int = 100000,
      roundTo: Int = 4, centroidRoundTo: Int = 6,
      ccMaxIter: Int = 50): DataFrame = {
    val assigned = emb.select(id.as("vec_id"), vec.as("embedding"),
      cluster.cast(LongType).as("__list"))
    // per-cluster mean vector, assembled back into an array ordered by
    // position — same posexplode + map-side-combined avg shape as
    // [[labelCentroids]]; rounding makes the centroid (and so every
    // downstream ccos compare) engine-portable
    val centersDf = assigned
      .select(col("__list"), posexplode(col("embedding")).as(Seq("__p", "__x")))
      .groupBy("__list", "__p")
      .agg(round(avg(col("__x").cast(DoubleType)), centroidRoundTo).as("__m"))
      .groupBy("__list")
      .agg(F.transform(
        array_sort(collect_list(struct(col("__p"), col("__m")))),
        s => s.getField("__m")).as("__centroid"))
    semanticDedupAssigned(assigned, centersDf, threshold, keepRule,
      clusterCap, roundTo, ccMaxIter)
  }

  private def semanticDedupAssigned(assigned: DataFrame, centersDf: DataFrame,
      threshold: Double, keepRule: String, clusterCap: Int, roundTo: Int,
      ccMaxIter: Int): DataFrame = {
    require(Seq("low_centroid_sim", "min_id").contains(keepRule),
      s"unknown keepRule '$keepRule' (low_centroid_sim|min_id)")
    import org.apache.spark.sql.expressions.Window
    // the assignment feeds pair generation AND the output join — persist
    // so the (potentially k-means) assignment runs once
    val a = assigned.select(col("vec_id"), col("embedding"), col("__list"))
      .persist()
    val capped = Dedup.dropOversizedBuckets(a, Seq("__list"), clusterCap)
    val lhs = capped.select(col("__list"), col("vec_id").as("id_a"),
      col("embedding").as("v_a"))
    val rhs = capped.select(col("__list"), col("vec_id").as("id_b"),
      col("embedding").as("v_b"))
    val pairs = lhs.join(rhs, Seq("__list"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(cosine(col("v_a"), col("v_b")), roundTo) >= threshold)
      .select("id_a", "id_b")
    val cc = Dedup.connectedComponentsStar(pairs, ccMaxIter)
    require(cc.converged,
      s"semantic-dedup components unconverged after ${cc.iterations} rounds" +
        " — an unconverged labeling would split duplicate groups and" +
        " keep extra members; raise ccMaxIter")
    val withComp = a
      .join(cc.labels.select(col("id").as("vec_id"),
        col("cluster").as("component")), Seq("vec_id"), "left")
      .withColumn("component", coalesce(col("component"), col("vec_id")))
    val withCos = withComp.join(centersDf, Seq("__list"))
      .withColumn("ccos",
        round(cosine(col("embedding").cast("array<double>"),
          col("__centroid").cast("array<double>")), roundTo))
    val keep = keepRule match {
      case "min_id" =>
        (col("vec_id") ===
          min("vec_id").over(Window.partitionBy(col("component"))))
          .cast(LongType)
      case _ =>
        (row_number().over(Window.partitionBy(col("component"))
          .orderBy(col("ccos").asc, col("vec_id").asc)) === 1)
          .cast(LongType)
    }
    val sel = withCos.select(col("vec_id"),
      col("__list").cast(LongType).as("cluster"), col("component"),
      col("ccos"), keep.as("keep"))
    Layout.pin(sel, a)
  }
  /** MMR diverse top-k selection (Carbonell & Goldstein 1998,
    * public): greedily pick `k` vectors maximizing
    * λ·rel(v) − (1−λ)·max_{s∈S} sim(v, s) — the demo/eval-set
    * curation primitive ("most representative AND mutually
    * different"), where plain top-k by relevance returns k near-
    * duplicates of the best item. rel = cosine to the corpus
    * centroid (per-dim mean rounded like the SemDeDup centroid).
    *
    * Determinism contract: every cosine is rounded to `roundTo`
    * decimals BEFORE comparison and ties break by id, so the argmax
    * chain is engine-portable (raw-ulp argmax would let a 1-ulp
    * divergence cascade through all later picks). Greedy selection
    * is inherently sequential: each of the k steps collects exactly
    * ONE winner row (id + vector) — the bounded-by-contract driver
    * collect of the properties()/IVF-probe class; candidates never
    * move, and the scan side stays distributed (one TakeOrdered(1)
    * job per step over the pinned candidate set). */
  def mmrSelect(emb: DataFrame, id: Column, vec: Column, k: Int,
      lambda: Double = 0.7, roundTo: Int = 4,
      centroidRoundTo: Int = 6): DataFrame = {
    require(k >= 1, "mmrSelect needs k >= 1")
    val spark = emb.sparkSession
    import spark.implicits._
    val e = emb.select(id.cast("long").as("id"),
      vec.cast("array<double>").as("v")).transform(Layout.pin(_))
    val cent = e.select(posexplode(col("v")).as(Seq("__p", "__x")))
      .groupBy("__p").agg(round(avg(col("__x")), centroidRoundTo).as("__m"))
      .orderBy("__p").collect().map(_.getDouble(1))
    val centCol = array(cent.map(lit(_)): _*)
    val scored = e
      .withColumn("__rel", round(cosine(col("v"), centCol), roundTo))
      .transform(Layout.pin(_))
    var selected = Vector.empty[(Long, Seq[Double], Double)]
    var exhausted = false
    for (_ <- 1 to k if !exhausted) {
      val base =
        if (selected.isEmpty) scored
        else scored.filter(!col("id").isin(selected.map(_._1): _*))
      val scoreCol =
        if (selected.isEmpty) col("__rel")
        else {
          val maxSim = selected
            .map { case (_, sv, _) =>
              round(cosine(col("v"), array(sv.map(lit(_)): _*)), roundTo) }
            .reduce(greatest(_, _))
          // the λ-combination of 1e-4-grid inputs lands on EXACT
          // 5th-decimal halves whenever 7m−3n is odd — round() would
          // flip between engines' tie rules; the dyadic floor is
          // luck-free on identical bits (PageRank-grid analysis)
          val q = math.pow(10, roundTo)
          floor((lit(lambda) * col("__rel") -
            (lit(1.0) - lit(lambda)) * maxSim) * lit(q) + lit(0.5)) / lit(q)
        }
      val ws = base.withColumn("__score", scoreCol)
        .orderBy(col("__score").desc, col("id").asc)
        .limit(1)
        .select(col("id"), col("v"), col("__score"))
        .collect()
      // candidate pool exhausted before k picks (k > corpus size):
      // stop and return the selectable prefix rather than throwing
      // an opaque ArrayIndexOutOfBoundsException
      if (ws.isEmpty) exhausted = true
      else {
        val w = ws(0)
        selected = selected :+
          ((w.getLong(0), w.getSeq[Double](1), w.getDouble(2)))
      }
    }
    selected.zipWithIndex
      .map { case ((i, _, sc), ix) => (ix + 1L, i, sc) }
      .toDF("sel_rank", "id", "score")
  }
}
