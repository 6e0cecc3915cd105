package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

/** Large-scale deduplication operators over a documents table.
  *
  * All variants are single-pass + shuffles on derived keys (content
  * hash, LSH band, fingerprint chunk) — the only shape that survives
  * 100 TB. Nothing collects to the driver; candidate generation is
  * always a key-equality join (never cartesian); candidate pairs are
  * deduplicated BEFORE the exact-verification join so each pair pays
  * the set-similarity check once; and every LSH family takes an
  * explicit per-bucket cap as skew insurance (a pathological bucket of
  * B docs would otherwise mint B² candidates on one shuffle key).
  */
object Dedup {

  /** Exact duplicates: one shuffle on the content hash. Returns one row
    * per distinct content with its cluster size and the kept (minimum)
    * id — the standard "keep first, drop rest" contract. */
  def exact(docs: DataFrame, text: Column, id: Column): DataFrame =
    docs.groupBy(md5(text.cast(BinaryType)).as("content_hash"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("cluster_size"))

  /** Whitespace tokens, lowercased. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Paragraph-level boilerplate pruning (the C4/RefinedWeb cleaning
    * step): drop every paragraph (split on blank lines) whose EXACT
    * text recurs in at least `minRepeats` documents corpus-wide —
    * navigation chrome, subscribe footers, cookie banners — and
    * reconstruct each document from its surviving paragraphs in
    * original order. Returns (doc_id, cleaned, n_paras, n_pruned);
    * docs whose every paragraph is boilerplate survive with empty
    * text (pruning must not silently delete documents).
    *
    * Shape: explode → one aggregate on paragraph text (count per
    * distinct paragraph is tiny output) → broadcast-or-shuffle join
    * back → one aggregate on doc_id with an in-order array_sort
    * reconstruction. Paragraph recurrence counts DOCUMENTS, not
    * occurrences (array_distinct before the count-side explode), so a
    * doc repeating its own paragraph doesn't self-boilerplate. */
  def paragraphPrune(docs: DataFrame, text: Column, id: Column,
      minRepeats: Int): DataFrame = {
    val paras = docs.select(id.as("doc_id"),
      F.posexplode(split(text, "\n\\s*\n")).as(Seq("idx", "para")))
    val boiler = docs
      .select(explode(array_distinct(split(text, "\n\\s*\n"))).as("para"))
      .groupBy("para").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minRepeats)
      .withColumn("__boiler", lit(1))
    paras
      .join(boiler.select("para", "__boiler"), Seq("para"), "left")
      .groupBy("doc_id")
      .agg(
        array_join(
          F.transform(
            array_sort(collect_list(
              when(col("__boiler").isNull, struct(col("idx"), col("para"))))),
            s => s.getField("para")),
          "\n\n").as("cleaned"),
        count(lit(1)).as("n_paras"),
        sum(coalesce(col("__boiler"), lit(0))).as("n_pruned"))
  }

  /** Word k-shingles of a text column, duplicates kept — the fused codegen kernel
    * ([[graft.functions.Kernels.wordShingles]]): the previous
    * transform(sequence, i => concat_ws(slice(tokens(text), …)))
    * Column tree re-evaluated the SPLIT per output gram when
    * interpreted (higher-order functions are CodegenFallback), i.e.
    * O(tokens²) per document on every shingle projection of the dedup
    * family. Null text still yields [""] (the concat_ws(null) rule the
    * oracle restates), handled in the wrapper because the kernel is
    * null-intolerant. */
  def shingles(text: Column, k: Int): Column =
    when(text.isNull, array(lit("")))
      .otherwise(graft.functions.GraftFunctions.wordShingles(text, k))

  /** Distinct character n-grams of a whitespace-normalized, lowercased
    * text column — fused kernel
    * ([[graft.functions.Kernels.charNgramsDistinct]]; the Column tree
    * re-ran the regexp_replace + lower per gram position, O(len²)
    * interpreted). Null text still yields [null] (substr-of-null per
    * position, distinct'd), handled in the wrapper. */
  def charNgrams(text: Column, n: Int): Column =
    when(text.isNull, array(lit(null).cast(StringType)))
      .otherwise(graft.functions.GraftFunctions.charNgramsDistinct(text, n))

  /** MinHash signature: for each of `numHashes` seeded hash functions,
    * the minimum XXH64 over the element set — a custom codegen
    * expression ([[graft.functions.GraftFunctions.minhashSig]]): one fused loop per
    * row instead of numHashes × |elems| interpreted lambda calls. */
  def minhashSignature(sh: Column, numHashes: Int): Column =
    graft.functions.GraftFunctions.minhashSig(sh, numHashes)

  /** Exact Jaccard similarity of two array columns (set semantics),
    * as a custom codegen expression ([[graft.functions.GraftFunctions.jaccardSim]]). */
  def jaccard(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.jaccardSim(a, b)

  /** The per-doc (doc_id, n, sig, elems) table of the minhash family
    * — the one builder behind the funnel, [[buildMinhashIndex]] and
    * [[appendToMinhashIndex]]. `n` is SET cardinality (the size-ratio
    * guard's invariant j >= t ⟹ |A|/|B| ∈ [t, 1/t] only holds for
    * distinct counts; "shingle" elems keep duplicates, so a repetitive
    * doc would otherwise be silently dropped against its compact twin;
    * "chargram" elems are already distinct). */
  private def signatureTable(elems: DataFrame, numHashes: Int,
      mode: String): DataFrame = {
    val card = if (mode == "chargram") size(col("elems"))
               else size(array_distinct(col("elems")))
    elems.select(col("doc_id"), card.as("n"),
      minhashSignature(col("elems"), numHashes).as("sig"), col("elems"))
  }

  /** Band explosion of a tagged signature table: one (doc_id, n,
    * is_new, band, bh) row per band, bh = xxhash64 of the band's
    * signature slice. Reading from a STORED signature table, upstream
    * column pruning keeps the (wide) elems column out of this scan. */
  private def bandTable(sigTable: DataFrame, bands: Int, rows: Int): DataFrame =
    sigTable.select(col("doc_id"), col("n"), col("is_new"),
      posexplode(F.transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows))))).as(Seq("band", "bh")))

  /** The shared verification funnel: signature-estimate prefilter
    * (skipped when the margin covers the whole range) then exact
    * Jaccard over element sets, both via key-equality joins against
    * `lookup` (doc_id, sig, elems). Every array-carrying verify join
    * is SHUFFLE_HASH with the O(n) per-doc side as the build: bare
    * candidate pairs stream through the probes and collapse to scores
    * inside the stage, so rows carrying signature/element arrays are
    * never sorted or buffered (the sort-merge plan this replaces
    * spilled 6.6 GB at the m=64 scale point purely sorting
    * candidates+array payload). The pairs leave with
    * [[canonicalIds]]. */
  private def verifyCandidates(cands: DataFrame, lookup: DataFrame,
      numHashes: Int, threshold: Double): DataFrame = {
    val margin = 4.0 * math.sqrt(threshold * (1 - threshold) / numHashes)
    val likely =
      if (threshold - margin <= 0) cands
      else {
        val est = graft.functions.GraftFunctions.sigMatch(col("sig_a"), col("sig_b"))
        cands
          .join(lookup.select(col("doc_id").as("id_a"), col("sig").as("sig_a"))
            .hint("SHUFFLE_HASH"), Seq("id_a"))
          .join(lookup.select(col("doc_id").as("id_b"), col("sig").as("sig_b"))
            .hint("SHUFFLE_HASH"), Seq("id_b"))
          .filter(est >= threshold - margin)
          .select("id_a", "id_b")
      }
    likely
      .join(lookup.select(col("doc_id").as("id_a"), col("elems").as("e_a"))
        .hint("SHUFFLE_HASH"), Seq("id_a"))
      .join(lookup.select(col("doc_id").as("id_b"), col("elems").as("e_b"))
        .hint("SHUFFLE_HASH"), Seq("id_b"))
      .select(canonicalIds :+ jaccard(col("e_a"), col("e_b")).as("jaccard"): _*)
      .filter(col("jaccard") >= threshold)
  }

  /** `fresh` ∪ `stored` with an `is_new` tag on the fresh rows — the
    * input of every near-dup funnel's blocking. */
  private[ops] def tagFresh(fresh: DataFrame, stored: DataFrame): DataFrame =
    fresh.withColumn("is_new", lit(true))
      .unionByName(stored.withColumn("is_new", lit(false)))

  /** The store of an inline funnel: an empty table shaped like
    * `fresh`. An empty LocalRelation, not `fresh.limit(0)`: the
    * optimizer drops a union with it in its first batch, before it
    * propagates constants, so the `is_new` tag folds away and the
    * inline plan is the plain self-join (a `limit(0)` only turns empty
    * in a late batch and leaves the tag riding through the join). */
  private[ops] def noStore(fresh: DataFrame): DataFrame =
    fresh.sparkSession.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), fresh.schema)

  /** The pair rule of every near-dup funnel, over a blocked
    * [[tagFresh]] table: `exact` and `probe` are the two join sides on
    * `keys` (the same table except for MIH's radius-1 ball). Only fresh
    * rows sit on the left, so stored-stored pairs never form; a
    * fresh-fresh pair forms once (id_a < id_b) and a fresh-stored pair
    * once (a stored id is never on the left). Output: (id_a, id_b) in
    * join-side orientation — id_a is always fresh, and each pair has
    * one orientation, so a distinct or group-by on them is per pair —
    * plus each `carry` column as `<c>_a`/`<c>_b`. One row per pair
    * needs ids unique across fresh ∪ stored: an increment replayed
    * against an index that already holds it forms a pair both
    * fresh-fresh (x, y) and fresh-stored (y, x), and the fresh ∪
    * stored verify lookups hold such an id twice, so the funnels may
    * give a pair more than once (the admission gate
    * [[Similarity.appendGatedToCosineIndex]] takes the smallest
    * partner, so its verdicts are unaffected). Over an empty store
    * ([[noStore]], the inline funnels) the optimizer drops the union
    * and folds the tag away, leaving the plain id_a < id_b self-join. */
  private[ops] def freshPairs(exact: DataFrame, probe: DataFrame,
      keys: Seq[String], id: String, carry: String*): DataFrame = {
    def side(df: DataFrame, s: String): DataFrame = df.select(keys.map(col) ++
      Seq(col(id).as(s"id_$s"), col("is_new").as(s"new_$s")) ++
      carry.map(c => col(c).as(s"${c}_$s")): _*)
    side(exact.filter(col("is_new")), "a").join(side(probe, "b"), keys)
      .filter((!col("new_b") || col("id_a") < col("id_b")) &&
        col("id_a") =!= col("id_b"))
      .select(Seq(col("id_a"), col("id_b")) ++
        carry.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b"))): _*)
  }

  /** A [[freshPairs]] pair's ids as id_a < id_b — every funnel's exit
    * projection. Not earlier: until the exit the ids keep the fresh
    * table's doc-id partitioning, which lets adaptive execution drop
    * the shuffles of the candidate distinct and the first verify join
    * (canonical ids before the distinct cost `dedup_minhash_pairs` two
    * shuffle stages). */
  private[ops] def canonicalIds: Seq[Column] = Seq(
    least(col("id_a"), col("id_b")).as("id_a"),
    greatest(col("id_a"), col("id_b")).as("id_b"))

  /** Scrub corpus-scale elements before signatures: an element in
    * more than `frac` of the corpus (floor 16 docs) is boilerplate —
    * a cookie banner, a license footer, a shared template — and
    * carries no identity signal, but it places ALL its docs in each
    * other's near-dup range: n docs sharing a 38-word tail at
    * pairwise Jaccard just above the threshold mint a Θ(n²) truth
    * set. Dropping those elements makes the truth set (and thus any
    * correct engine's cost) near-linear again; the hot list is
    * bounded by Σ|elems| / (frac·n) entries — independent of corpus
    * size — so it travels as an InSet literal. Docs whose elems are
    * ALL boilerplate drop out entirely (no identity left to match).
    * Every engagement is recorded in [[Ledger]].
    *
    * Returns the scrubbed (doc_id, elems) plan plus the persisted
    * input handle the CALLER must unpersist once its own downstream
    * cache has materialized — an eager checkpoint here would pin a
    * corpus-sized RDD in the block manager for the session's life
    * (storage `clearCache()` does not reap checkpoints), which
    * measurably poisons every later job's memory. */
  private def scrubHotElems(docsKeyed: DataFrame,
      frac: Double): (DataFrame, DataFrame) = {
    val keyed = docsKeyed.persist()
    val n = keyed.count()
    val cap = math.max(16L, math.ceil(frac * n).toLong)
    val hot = keyed
      .select(explode(array_distinct(col("elems"))).as("e"))
      .groupBy("e").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap)
      .collect().map(_.get(0))
    Ledger.note("minhash_hot_elems",
      s"scrubbed ${hot.length} corpus-scale elems (df > $cap of $n docs)")
    val out =
      if (hot.isEmpty) keyed
      else {
        val hotSet = hot.toSeq
        keyed.select(col("doc_id"),
            F.filter(col("elems"), e => !e.isInCollection(hotSet)).as("elems"))
          .filter(size(col("elems")) > 0)
      }
    (out, keyed)
  }

  /** Optional per-doc candidate budget, shared by every pair funnel: a
    * doc in more than `cap` candidate pairs is in a near-dup CLIQUE
    * (boilerplate, template flood) where the pair list is quadratic by
    * construction. Each doc KEEPS a deterministic id-ordered slice of
    * `cap` candidates in each endpoint role, and a pair survives if
    * EITHER endpoint keeps it — total candidate volume is then
    * ≤ 2·n·cap (globally linear) and every doc with any candidate
    * keeps at least one, so cluster connectivity survives; the pairs
    * LIST is what's truncated, and the truncation is ledgered.
    * `cap <= 0` (the default everywhere) disables the budget. */
  private[ops] def capCandidatesPerDoc(cands: DataFrame, cap: Int,
      tag: String): DataFrame =
    if (cap <= 0) cands
    else {
      val kept = cands
        .withColumn("__ra", row_number().over(
          Window.partitionBy("id_a").orderBy("id_b")))
        .withColumn("__rb", row_number().over(
          Window.partitionBy("id_b").orderBy("id_a")))
        .filter(col("__ra") <= cap || col("__rb") <= cap)
        .select("id_a", "id_b")
        .persist()
      val nKept = kept.count()
      Ledger.note(s"${tag}_per_doc_cap",
        s"candidate budget $cap/doc kept $nKept pairs")
      kept
    }

  /** Skew insurance without a sort: per-bucket counts are a tiny
    * aggregate (one row per bucket, and only buckets over the cap
    * survive the filter — few by construction), broadcast back as a
    * left-anti join. The window-count formulation this replaces forced
    * a full shuffle+SORT of the entire exploded table just to find the
    * handful of oversized buckets. */
  private[ops] def dropOversizedBuckets(exploded: DataFrame, keys: Seq[String],
      cap: Int): DataFrame = {
    val over = exploded.groupBy(keys.map(col): _*).count()
      .filter(col("count") > cap).select(keys.map(col): _*)
    exploded.join(broadcast(over), keys, "left_anti")
  }

  /** Banded-LSH near-duplicate pairs between the `fresh` and `stored`
    * (doc_id, n, sig, elems) signature tables ([[signatureTable]]),
    * exact-verified — the one funnel behind [[minhashLSH]],
    * [[ngramJaccardPairs]] (an empty store) and [[nearDupAgainstIndex]]:
    *
    *  1. the fresh table is persisted — it feeds candidate generation
    *     AND both verification joins; stored scans prune columns
    *     (banding reads (doc_id, n, sig), verification (doc_id, sig,
    *     elems));
    *  2. band explosion of fresh ∪ stored → per-bucket count → drop
    *     buckets over `bucketCap` (skew insurance: a pathological
    *     bucket of B docs would mint B² pairs on one shuffle key, no
    *     matter which side fed it);
    *  3. self-join on (band, hash) under the [[freshPairs]] rule with a
    *     SIZE-RATIO guard — j ≥ t forces |A|/|B| ∈ [t, 1/t], so wildly
    *     different-sized docs never materialize as pairs;
    *  4. distinct (id_a, id_b) — each pair verified once, not once per
    *     colliding band (then the optional per-doc budget,
    *     [[capCandidatesPerDoc]]);
    *  5. signature-estimate prefilter: est = (matching minhash
    *     components)/H ≈ j with σ = √(j(1−j)/H); pairs below
    *     t − 4σ are discarded after a 2·H-long join instead of paying
    *     the full element-set join. Crucial when the corpus background
    *     similarity sits near the band knee (candidate volume is
    *     driven by the background, not the threshold);
    *  6. exact Jaccard over the element sets for the survivors.
    *
    * The verified pair set is pinned so the signature cache (and
    * `release`) frees NOW — without this, repeated pipeline calls
    * accumulate cached tables for the session's life. */
  private def lshFunnel(fresh: DataFrame, stored: DataFrame, numHashes: Int,
      bands: Int, bucketCap: Int, threshold: Double, perDocCap: Int,
      release: DataFrame*): DataFrame = {
    val newBase = fresh.persist()
    val all = tagFresh(newBase, stored)
    val capped = dropOversizedBuckets(bandTable(all, bands, numHashes / bands),
      Seq("band", "bh"), bucketCap)
    val cands0 = freshPairs(capped, capped, Seq("band", "bh"), "doc_id", "n")
      .filter(least(col("n_a"), col("n_b")).cast(DoubleType) /
        greatest(col("n_a"), col("n_b")) >= threshold)
      .select("id_a", "id_b")
      .distinct()
    val cands = capCandidatesPerDoc(cands0, perDocCap, "minhash")
    Layout.pin(verifyCandidates(cands, all, numHashes, threshold),
      Seq(newBase, cands) ++ release: _*)
  }

  /** Spread docs across the cluster by id BEFORE the (interpreted,
    * CPU-heavy) shingle/minhash projections — a coarse upstream scan
    * otherwise serializes the whole signature computation into a
    * handful of tasks; partitioning by doc id also pre-co-locates the
    * verification joins. The shuffled payload is the raw text — far
    * cheaper than the hash work it parallelizes. */
  private def spreadById(docs: DataFrame, id: Column, payload: Column): DataFrame =
    docs.select(id.as("doc_id"), payload.as("__raw")).repartition(col("doc_id"))

  /** (doc_id, elems) per minhash mode: "shingle" = xxhash64'd word
    * k-shingles, duplicates kept ([[minhashLSH]]) — shingles travel as
    * longs like the char-n-gram funnel: identical Jaccard up to 2^-64
    * collisions, ~1/3 the verify-join bytes of shingle strings, and
    * the primitive (unboxed) set kernel on the verify path; "chargram"
    * = distinct hashed char n-grams ([[ngramJaccardPairs]]). */
  private def indexElems(docs: DataFrame, text: Column, id: Column,
      mode: String, k: Int): DataFrame = mode match {
    case "shingle" => spreadById(docs, id, text)
      .select(col("doc_id"),
        F.transform(shingles(col("__raw"), k), s => xxhash64(s)).as("elems"))
    case "chargram" => spreadById(docs, id, text)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.charNgramHashes(col("__raw"), k).as("elems"))
    case m => throw new IllegalArgumentException(
      s"unknown minhash index mode: $m (shingle|chargram)")
  }

  /** The inline minhash funnel: [[lshFunnel]] over an empty store, with
    * the inline-only hot-element scrub and per-doc candidate budget. */
  private def lshPairs(docs: DataFrame, text: Column, id: Column, mode: String,
      k: Int, numHashes: Int, bands: Int, bucketCap: Int, threshold: Double,
      hotElemFrac: Double, perDocCap: Int): DataFrame = {
    val elems = indexElems(docs, text, id, mode, k)
    val (kept, scrubInput) =
      if (hotElemFrac <= 0) (elems, None)
      else {
        val (out, keyed) = scrubHotElems(elems, hotElemFrac)
        (out, Some(keyed))
      }
    val fresh = signatureTable(kept, numHashes, mode)
    lshFunnel(fresh, noStore(fresh), numHashes, bands, bucketCap, threshold,
      perDocCap, scrubInput.toSeq: _*)
  }

  /** MinHash + LSH near-duplicate pairs over word shingles, verified
    * with exact Jaccard. Recall at the threshold is governed by the
    * (bands, rows) S-curve: P(candidate) = 1 − (1 − s^rows)^bands. */
  def minhashLSH(docs: DataFrame, text: Column, id: Column,
      shingleK: Int = 3, numHashes: Int = 16, bands: Int = 4,
      jaccardThreshold: Double = 0.5, bucketCap: Int = 100000,
      hotElemFrac: Double = 0.0, perDocCap: Int = 0): DataFrame =
    lshPairs(docs, text, id, "shingle", shingleK, numHashes, bands,
      bucketCap, jaccardThreshold, hotElemFrac, perDocCap)

  /** Character n-gram Jaccard near-duplicate pairs, banded-MinHash
    * blocked (NOT single-band min-hash blocking, which funnels most of
    * a same-vocabulary corpus into one quadratic bucket), verified
    * exactly over int-hashed grams (identical Jaccard up to 2^-64
    * collisions, ~1/3 the verify-join bytes of string grams).
    *
    * The S-curve must be STEEP for char n-grams: unrelated documents in
    * one language/domain commonly sit at j ≈ 0.4-0.6, so shallow bands
    * would accept nearly every pair. Defaults (128 hashes × 16 bands of
    * 8) give P(candidate) ≈ 0.95 at j=0.8 but ≈ 0.4% at j=0.55 — the
    * knee sits between the background mode and the near-dup threshold.
    * Run [[exact]] dedup first: clusters of >bucketCap IDENTICAL docs
    * saturate every band bucket and are dropped by the skew cap. */
  def ngramJaccardPairs(docs: DataFrame, text: Column, id: Column,
      n: Int = 3, threshold: Double = 0.8, numHashes: Int = 128,
      bands: Int = 16, bucketCap: Int = 1000,
      hotElemFrac: Double = 0.0, perDocCap: Int = 0): DataFrame =
    lshPairs(docs, text, id, "chargram", n, numHashes, bands, bucketCap,
      threshold, hotElemFrac, perDocCap)

  // ---- persisted minhash index (incremental near-dup) -----------------

  /** Mode of a stored index; metas written before the mode column
    * existed are shingle-mode by construction. */
  private def indexMode(meta: org.apache.spark.sql.Row): String =
    if (meta.schema.fieldNames.contains("mode")) meta.getAs[String]("mode")
    else "shingle"

  /** Build the write-once half of incremental near-dup dedup: persist
    * each document's minhash signature, set cardinality, and hashed
    * shingle set. A new crawl increment is then deduplicated against
    * the whole corpus ([[nearDupAgainstIndex]]) WITHOUT re-reading or
    * re-hashing any stored text — the per-increment cost is hashing the
    * increment plus key-equality joins against this store.
    *
    * Layout: `path/meta` (one row: shingle_k, num_hashes, bands — the
    * query path reads its parameters from here, so a build/query
    * mismatch is structurally impossible) and `path/docs`
    * (doc_id, n, sig, elems). Storing `elems` is what buys
    * verification-without-rescan; it costs ~8 bytes per token — the
    * same order as the corpus text it replaces on the read path.
    * Old-old pairs are the BUILD-time dedup's job (run [[minhashLSH]]
    * over the corpus once); the index query reports only pairs that
    * touch the increment. */
  def buildMinhashIndex(docs: DataFrame, text: Column, id: Column,
      path: String, shingleK: Int = 3, numHashes: Int = 16,
      bands: Int = 4, mode: String = "shingle"): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(mode == "shingle" || mode == "chargram",
      s"unknown minhash index mode: $mode (shingle|chargram)")
    val spark = docs.sparkSession
    import spark.implicits._
    // docs first, meta LAST: meta is the commit marker (readers resolve
    // it before touching docs), so a crash mid-build leaves no
    // readable half-store — just an orphan docs dir an overwrite heals
    signatureTable(indexElems(docs, text, id, mode, shingleK), numHashes, mode)
      .write.mode("overwrite").parquet(s"$path/docs")
    Seq((mode, shingleK, numHashes, bands))
      .toDF("mode", "shingle_k", "num_hashes", "bands")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Append an increment to a stored minhash index. Ids already present
    * are anti-joined away (idempotent under replay, and the store keeps
    * one row per doc_id — the join contract of the query path). Call
    * AFTER deduplicating the increment against the store, or the
    * appended near-dups become stored near-dups. */
  def appendToMinhashIndex(spark: SparkSession, indexPath: String,
      docs: DataFrame, text: Column, id: Column): Unit = {
    val meta = spark.read.parquet(s"$indexPath/meta").head()
    val (mode, k, numHashes) = (indexMode(meta),
      meta.getAs[Int]("shingle_k"), meta.getAs[Int]("num_hashes"))
    Layout.appendAbsent(
      signatureTable(indexElems(docs, text, id, mode, k), numHashes, mode),
      spark.read.parquet(s"$indexPath/docs"), s"$indexPath/docs", "doc_id")
  }

  /** Near-duplicate pairs between an increment and a stored minhash
    * index (plus pairs WITHIN the increment): [[lshFunnel]] with the
    * increment as the fresh side and the store as the stored side, so
    * [[minhashLSH]] / [[ngramJaccardPairs]] are exactly this query
    * against an empty store. Stored-stored pairs are NOT re-derived.
    *
    * Output (id_a, id_b, jaccard), id_a < id_b, at least one side from
    * the increment. Ids must be unique ACROSS store and increment (the
    * [[appendToMinhashIndex]] anti-join maintains this for the store). */
  def nearDupAgainstIndex(spark: SparkSession, indexPath: String,
      newDocs: DataFrame, text: Column, id: Column,
      jaccardThreshold: Double = 0.5, bucketCap: Int = -1): DataFrame = {
    val meta = spark.read.parquet(s"$indexPath/meta").head()
    val (mode, k, numHashes, bands) = (indexMode(meta),
      meta.getAs[Int]("shingle_k"), meta.getAs[Int]("num_hashes"),
      meta.getAs[Int]("bands"))
    // bucketCap < 0 (the default) = resolve the inline funnel's mode
    // default: the chargram funnel is deliberately capped 100× tighter
    // (same-vocabulary corpora concentrate band buckets), and a looser
    // indexed default would both diverge from inline results and
    // re-open the hot-bucket square the tight cap exists to stop.
    // 0 keeps the inline funnels' literal semantics (drop every
    // bucket) so the twins take the SAME explicit values.
    val cap = if (bucketCap >= 0) bucketCap
              else if (mode == "chargram") 1000 else 100000
    lshFunnel(signatureTable(indexElems(newDocs, text, id, mode, k), numHashes, mode),
      spark.read.parquet(s"$indexPath/docs"), numHashes, bands, cap,
      jaccardThreshold, perDocCap = 0)
  }

  /** Exact all-pairs n-gram Jaccard over a BOUNDED sample — the oracle
    * twin of [[ngramJaccardPairs]] (quadratic by construction; callers
    * must pass a bounded `docs`, e.g. a few hundred rows). */
  def ngramJaccardExact(docs: DataFrame, text: Column, id: Column,
      n: Int, threshold: Double): DataFrame = {
    // the repartition puts an exchange ABOVE the gram projection so the
    // nested-loop join streams materialized arrays (not a per-pair
    // recompute of the whole gram pipeline) and parallelizes the pairs.
    // 8 partitions, not the session default: a cartesian schedules
    // left×right partition PAIRS, so 32×32 would mint 1024 near-empty
    // tasks for a bounded sample — scheduling would dwarf the work
    val base = docs.select(id.as("doc_id"), charNgrams(text, n).as("elems"))
      .repartition(8, col("doc_id"))
    val a = base.select(col("doc_id").as("id_a"), col("elems").as("e_a"))
    val b = base.select(col("doc_id").as("id_b"), col("elems").as("e_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), jaccard(col("e_a"), col("e_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact all-pairs word-shingle Jaccard over a bounded sample — the
    * oracle twin of [[minhashLSH]]'s verification arithmetic. */
  def shingleJaccardExact(docs: DataFrame, text: Column, id: Column,
      shingleK: Int, threshold: Double): DataFrame = {
    val base = docs.select(id.as("doc_id"), shingles(text, shingleK).as("elems"))
      .repartition(8, col("doc_id")) // bounded sample: avoid 32² cartesian tasks
    val a = base.select(col("doc_id").as("id_a"), col("elems").as("e_a"))
    val b = base.select(col("doc_id").as("id_b"), col("elems").as("e_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), jaccard(col("e_a"), col("e_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash fingerprint: per-token hash votes on each bit,
    * sign of the vote sum becomes the bit — a custom codegen
    * expression ([[graft.functions.GraftFunctions.simhash64]]): the 64×tokens vote
    * loop runs fused instead of as nested interpreted lambdas. */
  def simhash(text: Column): Column =
    graft.functions.GraftFunctions.simhash64(text)

  /** SimHash near-dup pairs via multi-index hashing: block on `chunks`
    * bit-slices of the fingerprint with a per-chunk Hamming radius
    * r = ⌊maxHamming / chunks⌋, verify with popcount.
    *
    * Exactness (Norouzi et al., "Fast Search in Hamming Space with
    * Multi-Index Hashing", public): if d(x, y) ≤ h then some chunk of
    * the pair differs by ≤ ⌊h/c⌋ bits, so candidate generation has
    * recall 1.0 for any chunk count. r = 0 is the classic pigeonhole
    * exact-chunk join; r = 1 joins an EXACT side against a radius-1
    * BALL side (each chunk value plus its `width` single-bit flips) —
    * asymmetric, so a key collision implies chunk distance ≤ 1, never
    * 2. The win over shrinking chunks to keep r = 0: keys stay wide.
    * maxHamming=7 blocks on four 16-bit keys (radius 1) instead of
    * eight 8-bit keys — a 2^16 key space instead of 2^8, which on a
    * biased real-text corpus cuts candidate volume ~4× and top-bucket
    * occupancy ~8× (measured at sf0.1), the number that gets SQUARED
    * by a hot bucket at 100 TB. r ≥ 2 ball enumeration (1+w+C(w,2)
    * keys per chunk) is never worth it — use more chunks instead
    * (enforced).
    *
    * `chunks` defaults to the widest slicing with r ≤ 1, preferring
    * r = 0 while keys stay ≥ 16 bits: c=2 (h ≤ 1), c=4 exact
    * (h ≤ 3), c=4 radius-1 (h ≤ 7), c=8 radius-1 (h ≤ 15), … */
  def simhashPairs(docs: DataFrame, text: Column, id: Column,
      maxHamming: Int = 3, chunks: Int = 0,
      bucketCap: Int = 100000): DataFrame =
    hammingPairs(
      spreadById(docs, id, text)
        .select(col("doc_id"), simhash(col("__raw")).as("fp")),
      maxHamming, chunks, bucketCap)

  /** Chunk count + chunk width for multi-index hamming blocking, with
    * the radius-≤1 guard (Norouzi et al.). */
  private def mihConfig(maxHamming: Int, chunks: Int): (Int, Int) = {
    val c = if (chunks > 0) chunks
            else if (maxHamming < 4) Seq(2, 4).find(_ > maxHamming).getOrElse(4)
            else Seq(4, 8, 16, 32, 64).find(_ * 2 > maxHamming).getOrElse(64)
    require(64 % c == 0, s"chunks must divide 64, got $c")
    require(maxHamming / c <= 1,
      s"maxHamming=$maxHamming over $c chunks needs per-chunk radius ${maxHamming / c} > 1; " +
        s"use at least ${maxHamming / 2 + 1} chunks")
    (c, 64 / c)
  }

  /** One (…, chunk, ck) row per fingerprint chunk; all input columns
    * (e.g. an is_new tag) ride along. */
  private def chunkExplode(fp: DataFrame, c: Int, width: Int): DataFrame = {
    val mask = if (width == 64) lit(-1L) else lit((1L << width) - 1)
    fp.select(fp.columns.map(col) :+
      posexplode(F.transform(sequence(lit(0), lit(c - 1)),
        k => call_function("shiftright", col("fp"), k * width).bitwiseAND(mask)))
        .as(Seq("chunk", "ck")): _*)
  }

  /** Radius-1 ball: each chunk row plus one row per flipped bit —
    * (width + 1) rows per input row. Built from the CAPPED table, not
    * the raw one: ball rows of a dropped hot bucket would otherwise
    * land on its `width` neighbor keys and multiply against those
    * keys' exact rows (cap × hot-bucket output — exactly the blowup
    * the cap exists to stop). From the capped side, |ball@k| ≤
    * (width+1) × cap, so per-key join output is bounded by
    * (width+1) × cap². A doc whose bucket was dropped loses that one
    * chunk's ball rows and falls back on its other c−1 chunks — the
    * same lossiness contract as every capped funnel here. */
  private def ballExplode(chunked: DataFrame, width: Int): DataFrame =
    chunked.select(chunked.columns.filter(_ != "ck").map(col) :+
      explode(F.transform(sequence(lit(0), lit(width)),
        i => when(i === 0, col("ck")).otherwise(
          col("ck").bitwiseXOR(call_function("shiftleft", lit(1L), i - 1))))).as("ck"): _*)

  /** Multi-index-hashing hamming near-dup pairs between the `fresh`
    * and `stored` (doc_id, fp) fingerprint tables — the one funnel
    * behind [[hammingPairs]] (an empty store) and
    * [[hammingAgainstIndex]]: chunk explosion of fresh ∪ stored, the
    * bucket cap on the union, the exact-side ⋈ probe-side join under
    * the [[freshPairs]] rule, popcount verify, the tiny pair set pinned
    * and the caches released. */
  private def hammingFunnel(fresh: DataFrame, stored: DataFrame,
      maxHamming: Int, chunks: Int, bucketCap: Int): DataFrame = {
    val (c, width) = mihConfig(maxHamming, chunks)
    val r = maxHamming / c
    // persist the fresh (doc_id, fp) table: one row per doc, and it
    // feeds the bucket-count aggregates AND both join sides — without
    // the cache the upstream fingerprint pipeline recomputes three times
    val newFp = fresh.select(col("doc_id"), col("fp")).persist()
    val chunked = chunkExplode(
      tagFresh(newFp, stored.select(col("doc_id"), col("fp"))), c, width)
    // persisted when it feeds two consumers (join side a AND the ball
    // explosion): without the cache the bucket-count aggregate and
    // anti-join replay once per consumer
    val capped0 = dropOversizedBuckets(chunked, Seq("chunk", "ck"), bucketCap)
    val capped = if (r == 0) capped0 else capped0.persist()
    val probe = if (r == 0) capped else ballExplode(capped, width)
    val pairs = freshPairs(capped, probe, Seq("chunk", "ck"), "doc_id", "fp")
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .select(canonicalIds :+ col("hamming"): _*)
    Layout.pin(pairs, newFp, capped)
  }

  /** Multi-index-hashing hamming near-dup pairs over ANY precomputed
    * 64-bit fingerprint table (`doc_id`, `fp`) — the blocking layer
    * behind [[simhashPairs]] (text fingerprints) and
    * [[Multimodal.phashPairs]] (media perceptual hashes). Candidate
    * generation is EXACT for per-chunk radius ≤ 1 (Norouzi et al.:
    * h ≤ c·(r+1)−1 errors cannot exceed radius r in every chunk). */
  def hammingPairs(fps: DataFrame, maxHamming: Int = 3, chunks: Int = 0,
      bucketCap: Int = 100000): DataFrame =
    hammingFunnel(fps, noStore(fps), maxHamming, chunks, bucketCap)

  /** Persist a fingerprint corpus — the 16-bytes-per-doc store behind
    * incremental hamming dedup ([[hammingAgainstIndex]]). The heavy
    * thing at scale is not this table but producing it (a full pass
    * over text or media payloads): the index makes that pass
    * write-once. `maxHamming`/`chunks` stay QUERY-time parameters —
    * the store is raw fingerprints, so one build serves any radius. */
  def buildFingerprintIndex(fps: DataFrame, path: String): Unit =
    fps.select("doc_id", "fp").write.mode("overwrite").parquet(path)

  /** Append an increment's fingerprints; ids already stored are
    * anti-joined away (idempotent under replay, one row per doc). */
  def appendToFingerprintIndex(spark: SparkSession, indexPath: String,
      fps: DataFrame): Unit =
    Layout.appendAbsent(fps.select("doc_id", "fp"),
      spark.read.parquet(indexPath), indexPath, "doc_id")

  /** Hamming near-dup pairs between an increment and a stored
    * fingerprint index (plus pairs within the increment):
    * [[hammingFunnel]] with the corpus side read from the store (16
    * bytes/doc — no payload or text rescan), so [[hammingPairs]] is
    * exactly this query against an empty store. Stored-stored pairs
    * are never re-derived. Output (id_a, id_b, hamming) with
    * id_a < id_b; ids must be unique across store and increment. */
  def hammingAgainstIndex(spark: SparkSession, indexPath: String,
      newFps: DataFrame, maxHamming: Int = 3, chunks: Int = 0,
      bucketCap: Int = 100000): DataFrame =
    hammingFunnel(newFps, spark.read.parquet(indexPath), maxHamming, chunks,
      bucketCap)

  /** Winnowing fingerprints of a text column — the MOSS scheme
    * ([[graft.functions.Kernels.winnowFingerprints]]): any shared
    * substring of ≥ w + k − 1 codepoints yields a shared fingerprint. */
  def winnow(text: Column, k: Int = 8, w: Int = 8): Column =
    graft.functions.GraftFunctions.winnowFp(text, k, w)

  /** The per-doc (doc_id, fps, grams) table of the containment family —
    * winnowed fingerprints plus distinct k-gram hashes, the one builder
    * behind the funnel, [[buildContainmentIndex]] and
    * [[appendToContainmentIndex]]. */
  private def containmentDocs(docs: DataFrame, text: Column, id: Column,
      k: Int, w: Int): DataFrame =
    spreadById(docs, id, text)
      .select(col("doc_id"),
        winnow(col("__raw"), k, w).as("fps"),
        graft.functions.GraftFunctions.charNgramHashes(col("__raw"), k).as("grams"))

  /** Containment pairs between the `fresh` and `stored`
    * [[containmentDocs]] tables — the one funnel behind
    * [[containmentPairs]] (an empty store) and
    * [[containmentAgainstIndex]]: fresh docs persisted → fp explode of
    * fresh ∪ stored → per-fp bucket cap on the union (a boilerplate
    * fingerprint shared by B docs would mint B² candidate rows, no
    * matter which side fed it; `bucketFrac` makes it proportional) →
    * fp-equality self-join under the [[freshPairs]] rule → per-pair
    * shared-fp count ≥ minShared (noise floor) → optional per-doc
    * budget → gram sets joined back by doc id → exact containment
    * ([[graft.functions.Kernels.containmentLong]]) → threshold → pin.
    * Shuffles only on derived keys; never cartesian. */
  private def containmentFunnel(fresh: DataFrame, stored: DataFrame,
      threshold: Double, minShared: Int, bucketCap: Int, perDocCap: Int,
      bucketFrac: Double): DataFrame = {
    val newBase = fresh.persist()
    val all = tagFresh(newBase, stored)
    val exploded = all.select(col("doc_id"), col("is_new"), explode(col("fps")).as("fp"))
    val effCap =
      if (bucketFrac <= 0) bucketCap
      else {
        val n = all.count()
        val pc = math.max(16L, math.ceil(bucketFrac * n).toLong)
          .min(bucketCap.toLong).toInt
        Ledger.note("contain_bucket_frac",
          s"proportional fp cap $pc (frac $bucketFrac of $n docs, abs cap $bucketCap)")
        pc
      }
    val capped = dropOversizedBuckets(exploded, Seq("fp"), effCap)
    val cands0 = freshPairs(capped, capped, Seq("fp"), "doc_id")
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared")) // fps are distinct per doc, so count = shared fps
      .filter(col("shared") >= minShared)
      .select("id_a", "id_b")
    val cands = capCandidatesPerDoc(cands0, perDocCap, "contain")
    // Verify-join shape, chosen for its SPILL profile at scale: both
    // gram-array joins are SHUFFLE_HASH with the O(n) per-doc side as
    // the build side, so the wide rows (candidates carrying one gram
    // array) are never sorted or buffered — they stream through the
    // probe and collapse to (id_a, id_b, score) inside the same stage.
    // The sort-merge plan this replaces sorted candidate rows WITH
    // array payload attached (measured r9: 3.9–38.7 GB spilled across
    // the scale sweep under an 8g heap); here the only memory resident
    // is the build map, Σ|grams| / shuffle-partitions per task.
    // Candidates enter bare (two longs), pick up g_b at id_b's
    // partition, and meet g_a at id_a's partition where the score is
    // computed and filtered before anything else sees the arrays.
    val gB = all.select(col("doc_id").as("id_b"), col("grams").as("g_b"))
      .hint("SHUFFLE_HASH")
    val gA = all.select(col("doc_id").as("id_a"), col("grams").as("g_a"))
      .hint("SHUFFLE_HASH")
    val pairs = cands
      .join(gB, Seq("id_b"))
      .join(gA, Seq("id_a"))
      .select(canonicalIds :+
        graft.functions.GraftFunctions.containmentSim(col("g_a"), col("g_b")).as("containment"): _*)
      .filter(col("containment") >= threshold)
    Layout.pin(pairs, newBase, cands)
  }

  /** CONTAINMENT near-duplicate pairs — the family member
    * Jaccard-style set similarity structurally misses: a short
    * document embedded verbatim in a much longer one has tiny Jaccard
    * (|A∩B|/|A∪B| ≤ |A|/|B|), and the LSH funnels' size-ratio guard
    * drops such pairs BY DESIGN. Containment |A∩B|/min(|A|,|B|) is
    * the right score for subset/superset duplication (boilerplate,
    * quotation, doc-in-corpus inclusion — a dominant duplication mode
    * in web training data).
    *
    * Candidate generation is winnowing fingerprints (MOSS): two docs
    * sharing any substring of ≥ w + k − 1 codepoints share a
    * fingerprint, so real containment always produces candidates
    * (recall is deterministic, not an S-curve). The fingerprints are
    * NOT the score — window-minimum selection is biased toward
    * globally small hashes, which inflates overlap between
    * same-vocabulary documents — candidates are verified EXACTLY over
    * the full k-gram hash sets, like every funnel here
    * ([[containmentFunnel]] over an empty store).
    *
    * Default `w = 24` (guarantee: any shared run of ≥ 31 codepoints
    * produces a candidate): fingerprint density is ~2/(w+1) of all
    * grams and candidate volume scales with its square, so the window
    * should be as wide as the shortest shared passage worth detecting
    * — not the near-dup-grade w=8.
    *
    * `bucketFrac` (opt-in, ledgered): PROPORTIONAL per-fingerprint
    * bucket cap — fps shared by more than `bucketFrac` of the corpus
    * (floor 16 docs) drop before pair minting, the containment twin of
    * minhash's hotElemFrac and sparse-cosine's dfFrac. The judgment:
    * a fingerprint in >0.1% of a corpus is template text, not
    * containment identity — and WITHOUT it the candidate-count
    * aggregation's input is Σ df² pair mentions over every mid-df
    * vocab-background bucket the absolute cap leaves standing
    * (measured r10: 4 GB spilled at 26k docs, 38.6 GB at 416k, ALL in
    * that one aggregation stage — the absolute cap stops being the
    * binding judgment as n grows past cap/frac). Forces one count()
    * on the already-persisted base. */
  def containmentPairs(docs: DataFrame, text: Column, id: Column,
      k: Int = 8, w: Int = 24, threshold: Double = 0.5, minShared: Int = 3,
      bucketCap: Int = 100000, perDocCap: Int = 0,
      bucketFrac: Double = 0.0): DataFrame = {
    val fresh = containmentDocs(docs, text, id, k, w)
    containmentFunnel(fresh, noStore(fresh), threshold, minShared, bucketCap,
      perDocCap, bucketFrac)
  }

  /** Persist winnowing fingerprints + gram sets for incremental
    * containment dedup ([[containmentAgainstIndex]]): `path/docs` =
    * (doc_id, fps, grams), `path/meta` = (k, w) written LAST as the
    * commit marker (a fingerprint computed under different (k, w)
    * never matches — the meta pin makes mismatch impossible). Storing
    * grams is what buys exact verification without re-reading stored
    * text, same trade as the minhash index's elems. */
  def buildContainmentIndex(docs: DataFrame, text: Column, id: Column,
      path: String, k: Int = 8, w: Int = 24): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    containmentDocs(docs, text, id, k, w)
      .write.mode("overwrite").parquet(s"$path/docs")
    Seq((k, w)).toDF("k", "w")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Append an increment's fingerprints + grams (idempotent on
    * doc_id). */
  def appendToContainmentIndex(spark: SparkSession, indexPath: String,
      docs: DataFrame, text: Column, id: Column): Unit = {
    val meta = spark.read.parquet(s"$indexPath/meta").head()
    Layout.appendAbsent(
      containmentDocs(docs, text, id, meta.getAs[Int]("k"), meta.getAs[Int]("w")),
      spark.read.parquet(s"$indexPath/docs"), s"$indexPath/docs", "doc_id")
  }

  /** Containment pairs between an increment and a stored containment
    * index (plus pairs within the increment): [[containmentFunnel]]
    * with the store as the stored side, so [[containmentPairs]] is
    * exactly this query against an empty store — stored text never
    * re-read, stored-stored pairs never formed. Output (id_a, id_b,
    * containment), id_a < id_b; ids unique across store and
    * increment. */
  def containmentAgainstIndex(spark: SparkSession, indexPath: String,
      newDocs: DataFrame, text: Column, id: Column,
      threshold: Double = 0.5, minShared: Int = 3,
      bucketCap: Int = 100000): DataFrame = {
    val meta = spark.read.parquet(s"$indexPath/meta").head()
    containmentFunnel(
      containmentDocs(newDocs, text, id, meta.getAs[Int]("k"), meta.getAs[Int]("w")),
      spark.read.parquet(s"$indexPath/docs"), threshold, minShared, bucketCap,
      perDocCap = 0, bucketFrac = 0.0)
  }

  /** Exact all-pairs char-n-gram CONTAINMENT over a BOUNDED sample —
    * oracle twin of [[containmentPairs]] (quadratic by construction):
    * |grams(A) ∩ grams(B)| / min(|grams(A)|, |grams(B)|), pure
    * built-ins so the DuckDB oracle states the same arithmetic. */
  def containmentExact(docs: DataFrame, text: Column, id: Column,
      n: Int, threshold: Double): DataFrame = {
    val base = docs.select(id.as("doc_id"), charNgrams(text, n).as("elems"))
      .repartition(8, col("doc_id")) // bounded sample: avoid 32² cartesian tasks
    val a = base.select(col("doc_id").as("id_a"), col("elems").as("e_a"))
    val b = base.select(col("doc_id").as("id_b"), col("elems").as("e_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("e_a"), col("e_b"))).cast(DoubleType) /
          least(size(col("e_a")), size(col("e_b")))).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Near-duplicate clustering: connected components over a candidate
    * pair set by iterative min-label propagation. Each node adopts the
    * minimum label among itself and its neighbors; iterate to fixpoint.
    * One shuffle join + one aggregation per iteration, converging in
    * O(component diameter) rounds — near-dup components are
    * star/clique-shaped, so a handful of rounds in practice; labels are
    * pinned ([[Layout.pin]]) each round so lineage stays flat. Output:
    * (id, cluster) with cluster = min member id — the canonical
    * "keep the smallest id, drop the rest" contract.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    connectedComponentsResult(pairs, maxIter).labels

  /** Labels plus an explicit convergence signal — a component whose
    * diameter exceeds maxIter would otherwise return WRONG (unconverged)
    * labels silently. */
  case class CCResult(labels: DataFrame, converged: Boolean, iterations: Int)

  /** Two-phase star contraction (Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC'14 — public): alternate
    *
    *  - **large-star**: every node points its strictly-LARGER
    *    neighbors at the minimum of its closed neighborhood;
    *  - **small-star**: every node links its smaller-or-equal
    *    neighbors (and itself) to its minimum neighbor;
    *
    * until the edge set reaches a fixpoint, at which point edges form
    * stars rooted at each component's minimum id. Converges in
    * O(log n) rounds on ANY component shape — min-label propagation
    * ([[connectedComponentsResult]]) needs O(diameter) rounds, which
    * degenerates to O(n) on chain components (transitively-linked
    * near-dups, common in crawl shingles). Each round is two
    * aggregate+join+distinct passes over the edge set — shuffles on
    * edge keys only, edges pinned ([[Layout.pin]]) per round so lineage
    * stays flat.
    *
    * Convergence is detected by consecutive-round (count, hash-sum)
    * equality — an O(1)-row aggregate per round instead of a full
    * anti-join; a 64-bit checksum collision declaring a false
    * fixpoint is ~2^-64 and would still be caught by the paper's
    * invariant that the edge set only shrinks lexicographically.
    *
    * ADAPTIVE: when the (already-funneled) edge set is tiny —
    * `smallGraphEdges` or fewer edges, the same size class Spark
    * broadcasts a join side at — the multi-round loop is pure
    * scheduling overhead: each round is ~4 shuffle jobs over a few
    * hundred rows, ~0.5 s of fixed cost per round at local[32]. Such
    * graphs take one collect + a driver union-find (identical labels:
    * min id per component) and zero loop rounds. Near-dup graphs AT
    * scale stay distributed — the gate is an edge/node count, checked
    * on the checkpointed edge set before any round runs. */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 50,
      smallGraphEdges: Long = 100000L): CCResult = {
    // materialize the pair set ONCE before deriving nodes and edges —
    // each derivation is its own checkpoint action, and `pairs` is
    // typically the unmaterialized tail of a full dedup funnel that
    // would otherwise run twice (measured: the whole split query paid
    // the minhash funnel 2x before this)
    val p0 = pairs.select(col("id_a"), col("id_b")).transform(Layout.pin(_))
    // nodes from the RAW pair set (a self-pair-only node is a
    // singleton component and must still get a label), edges as
    // canonical down-edges (src > dst) with self-loops dropped
    val nodes = p0.select(col("id_a").as("id"))
      .unionAll(p0.select(col("id_b").as("id")))
      .distinct()
      .transform(Layout.pin(_))
    var edges = p0
      .select(greatest(col("id_a"), col("id_b")).as("src"),
        least(col("id_a"), col("id_b")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .transform(Layout.pin(_))

    def checksum(e: DataFrame): (Long, Long) = {
      // bit_xor, not sum: order-independent over the (distinct) edge
      // set and can't overflow under ANSI arithmetic
      val r = e.agg(count(lit(1)),
        coalesce(call_function("bit_xor", xxhash64(col("src"), col("dst"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    def largeStar(e: DataFrame): DataFrame = {
      val und = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = und.groupBy("src").agg(min("dst").as("nmin"))
        .select(col("src"), least(col("nmin"), col("src")).as("m"))
      und.filter(col("dst") > col("src"))
        .join(mins, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("src").agg(min("dst").as("m"))
      val relinked = e.join(mins, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
      val self = mins.select(col("src"), col("m").as("dst"))
      relinked.unionAll(self)
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    val idType = pairs.schema(pairs.schema.fieldIndex("id_a")).dataType
    val fastTypeOk = idType match {
      case _: org.apache.spark.sql.types.NumericType |
           org.apache.spark.sql.types.StringType => true
      case _ => false
    }
    if (fastTypeOk && edges.count() <= smallGraphEdges &&
        nodes.count() <= 2 * smallGraphEdges) {
      import scala.jdk.CollectionConverters._
      val es = edges.collect().map(r => (r.get(0), r.get(1)))
      val ns = nodes.collect().map(_.get(0))
      val parent = scala.collection.mutable.HashMap.empty[Any, Any]
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent(c); parent(c) = r; c = nxt
        }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra) = rb
      }
      def lt(a: Any, b: Any) =
        a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
      val minOf = scala.collection.mutable.HashMap.empty[Any, Any]
      ns.foreach { n =>
        val r = find(n)
        if (!minOf.get(r).exists(m => lt(m, n))) minOf(r) = n
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("cluster", idType)))
      val rows = ns.toSeq
        .map(n => org.apache.spark.sql.Row(n, minOf(find(n)))).asJava
      return CCResult(
        pairs.sparkSession.createDataFrame(rows, schema), true, 0)
    }

    var sig = checksum(edges)
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      val next = smallStar(largeStar(edges)).transform(Layout.pin(_))
      val nsig = checksum(next)
      converged = nsig == sig
      edges = next
      sig = nsig
      it += 1
    }
    // fixpoint edges are stars (u → component min); roots label themselves
    val labels = nodes
      .join(edges.select(col("src").as("id"), col("dst").as("lbl")), Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("cluster"))
    CCResult(labels, converged, it)
  }

  def connectedComponentsResult(pairs: DataFrame, maxIter: Int = 20): CCResult = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .transform(Layout.pin(_))
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("cluster").as("nlbl")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min("nlbl").as("nbr_min"))
      // keep BOTH labels through the checkpoint so change detection is a
      // scan of the checkpointed partitions, not a second join+count job
      val updated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("cluster").as("old"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster"))).as("cluster"))
        .transform(Layout.pin(_))
      converged = updated.filter(col("cluster") =!= col("old")).limit(1).count() == 0
      labels = updated.select(col("id"), col("cluster"))
      it += 1
    }
    edges.unpersist() // labels are checkpointed; the edge cache is dead weight
    CCResult(labels, converged, it)
  }

  /** Brute-force SimHash pairs over a bounded sample — recall oracle
    * for [[simhashPairs]]. */
  def simhashExact(docs: DataFrame, text: Column, id: Column,
      maxHamming: Int): DataFrame = {
    val fp = docs.select(id.as("doc_id"), simhash(text).as("fp"))
      .repartition(8, col("doc_id")) // bounded sample: avoid 32² cartesian tasks
    val a = fp.select(col("doc_id").as("id_a"), col("fp").as("fp_a"))
    val b = fp.select(col("doc_id").as("id_b"), col("fp").as("fp_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
  /** Sorted-neighborhood (SNM) candidate pairs — the SORT-based
    * blocking family, complementing the hash funnels above (minhash
    * bands, simhash chunks) and [[EditDistance]]'s segment blocking:
    * order the corpus by a cheap sort key (here the lowercased first
    * `sortKeyLen` chars), then verify only pairs whose global ranks
    * lie within `window` of each other (Hernández & Stolfo's
    * merge/purge, public). Catches the near-dup mode where documents
    * share a long common PREFIX (templated titles, boilerplate
    * headers) at O(n·w) verify cost.
    *
    * The global rank is computed WITHOUT a single-task sort — see
    * [[globalRankByKey]]: sampled (key, id) range cuts, per-bucket
    * row_number in parallel, broadcast prefix-sum offsets. Because
    * the cuts carry the id tiebreak, the rank exchange stays balanced
    * (~n/rankBuckets per task) under ANY key distribution — a corpus
    * where 90% of sort keys share a leading prefix funneled the
    * previous first-codepoint bucketing into one task (DedupSpec pins
    * the pathology). The neighbor join is rank-equality (each row
    * probes its next `window−1` ranks), so it shuffles on an integer
    * key with fan-in bounded by `window` — no skew, no cartesian
    * corner. Verification is the exact set-Jaccard codegen kernel
    * over word shingles. */
  def sortedNeighborhoodPairs(docs: DataFrame, text: Column, id: Column,
      sortKeyLen: Int = 24, window: Int = 10, shingleK: Int = 2,
      threshold: Double = 0.3, rankBuckets: Int = 256): DataFrame = {
    require(window >= 2, "SNM needs a window of at least 2")
    // shingle arrays ride the rank exchange and the (window-1)-fold
    // neighbor probe directly: a "narrower" variant that ranked and
    // paired on bare ids and re-joined shingles at verify measured
    // 5.8s vs this shape's 3.6s at sf0.1 - the two extra join stages
    // cost more than replicating the (small) element arrays through
    // shuffles whose fan-in the window already bounds
    val key = lower(substring(trim(text), 1, sortKeyLen))
    val base = docs.select(id.cast("long").as("doc_id"), key.as("__k"),
      shingles(text, shingleK).as("__e"))
    val r = globalRankByKey(base, rankBuckets)
      .select(col("doc_id"), col("__e"), col("__rank"))
    val probe = r.select(col("doc_id").as("__pid"), col("__e").as("__pe"),
      explode(sequence(col("__rank") + 1,
        col("__rank") + lit(window.toLong - 1))).as("__rank"))
    // SHUFFLE_HASH on the O(n) ranked side: the probe side carries
    // (window-1) array replicas per doc, and sort-merge sorted BOTH
    // array-bearing sides on __rank (measured 6.1 GB spill at the
    // m=64 scale point); hash-building the n-row side lets the 9n-row
    // probe stream through unsorted
    probe.join(r.hint("SHUFFLE_HASH"), Seq("__rank"))
      .select(least(col("__pid"), col("doc_id")).as("id_a"),
        greatest(col("__pid"), col("doc_id")).as("id_b"),
        jaccard(col("__pe"), col("__e")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Dense global rank 1..n by (`__k`, doc_id) without a single-task
    * sort — an explicit, inspectable range partitioner: sample (key,
    * id) pairs from the pruned key projection, take every
    * (sample/nBuckets)-th as a cut point, bucket rows by codegen'd
    * binary search ([[graft.functions.Kernels.rangeBucket]]), rank
    * within buckets in parallel, and lift local ranks to global with
    * broadcast per-bucket offsets from a prefix sum. Because the cut
    * points carry the id TIEBREAK, the underlying order is total and
    * cuts can split even a run of identical keys — balanced under ANY
    * key distribution (a 90%-shared-prefix corpus funneled the
    * previous first-codepoint buckets into one task; DedupSpec pins
    * the pathology). The rank itself is cut-invariant: any
    * order-preserving bucketing yields the same global (key, id)
    * rank, so output is deterministic regardless of sampling. Returns
    * the input plus `__b` (bucket) and `__rank`. */
  private[graft] def globalRankByKey(base: DataFrame,
      nBuckets: Int): DataFrame = {
    // ONE-pass cut derivation (the RangePartitioner sketch, done
    // explicitly): per-partition reservoir + row count, then a
    // weighted walk picks nBuckets-1 cuts. The sketch job projects
    // (key, id) only — column pruning keeps shingle/payload columns
    // out of this extra pass — and seeds per partition index, so the
    // cuts (and with them the physical plan, though never the ranks)
    // are deterministic.
    val resK = 128
    // null keys never reach the cuts: they rank first by Spark's
    // nulls-first ORDER BY and get their own bucket below, so the
    // sketch only needs the non-null order statistics
    val sketch = base.select(col("__k"), col("doc_id"))
      .filter(col("__k").isNotNull).rdd
      .map(r => (r.getString(0), r.getLong(1)))
      .mapPartitionsWithIndex { (pi, it) =>
        val rng = new java.util.Random(42L + pi)
        val res = new Array[(String, Long)](resK)
        var n = 0L
        while (it.hasNext) {
          val x = it.next()
          if (n < resK) res(n.toInt) = x
          else {
            val j = (rng.nextDouble() * (n + 1)).toLong
            if (j < resK) res(j.toInt) = x
          }
          n += 1
        }
        if (n == 0L) Iterator.empty
        else Iterator.single((n, res.take(math.min(n, resK.toLong).toInt)))
      }.collect()
    val totalRows = sketch.map(_._1).sum
    // each sampled element stands for (partition rows / sample size)
    // input rows; cuts fall where cumulative weight crosses each
    // 1/nBuckets fraction of the total
    // the sketch and the cut array MUST sort in the order rangeBucket
    // binary-searches with — UTF8String.compareTo (UTF-8 byte /
    // codepoint order), which is also what ORDER BY __k sorts by.
    // Scala's default String ordering (UTF-16 code-unit order)
    // disagrees for keys mixing U+E000..U+FFFF (e.g. U+FFFD) with
    // supplementary-plane codepoints, which would leave the cuts
    // unsorted w.r.t. the search and silently break bucketing
    val kiOrd: Ordering[(String, Long)] = new Ordering[(String, Long)] {
      def compare(a: (String, Long), b: (String, Long)): Int = {
        val c = org.apache.spark.unsafe.types.UTF8String.fromString(a._1)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b._1))
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    }
    val weighted = sketch.flatMap { case (n, xs) =>
      val w = n.toDouble / xs.length
      xs.map(x => (x, w))
    }.sortBy(_._1)(kiOrd)
    val cuts: Array[(String, Long)] = {
      val out = scala.collection.mutable.ArrayBuffer[(String, Long)]()
      var cum = 0.0
      var b = 1
      for ((x, w) <- weighted if b < nBuckets) {
        cum += w
        if (cum >= b.toDouble * totalRows / nBuckets) {
          out += x
          b += 1
        }
      }
      out.distinct.sorted(kiOrd).toArray
    }
    // null keys: rangeBucket is null-intolerant (null __k → null
    // bucket), and a null __b would silently DROP rows at the USING
    // join below. Bucket them as -1 — nulls sort before every
    // non-null key in the window ORDER BY, and -1 sorts before every
    // real bucket in the offset prefix sum, so the global rank stays
    // order-preserving with nulls ranked first (dirty corpora are
    // data, not dropped rows)
    val withB = base.withColumn("__b", when(col("__k").isNull, lit(-1))
      .otherwise(graft.functions.GraftFunctions.rangeBucket(col("__k"),
        col("doc_id"), cuts.map(_._1), cuts.map(_._2))))
    val wB = Window.partitionBy("__b").orderBy(col("__k"), col("doc_id"))
    val ranked = withB.withColumn("__r0", row_number().over(wB).cast("long"))
    val counts = ranked.groupBy("__b").agg(count(lit(1)).as("__c"))
    val wOff = Window.orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("__off", coalesce(sum(col("__c")).over(wOff), lit(0L)))
      .drop("__c")
    ranked.join(broadcast(offsets), Seq("__b"))
      .withColumn("__rank", col("__r0") + col("__off"))
      .drop("__r0")
  }
}
